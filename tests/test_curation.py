"""Unit/property tests for the round-2 corpus-curation operators
(packing, sharding, repetition, redaction, decontamination, frame
sampling) beyond the oracle checks in test_oracle_parity.py."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from fhir2sql_spark.operators import packing, text
from fhir2sql_spark.operators.dedup import ngram_contamination
from fhir2sql_spark.operators.multimodal import frame_sample, synth_blobs
from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


class TestPackGreedy:
    def test_invariants(self, spark):
        docs = _docs(spark)
        packed = packing.pack_greedy(docs, capacity=256).cache()
        rows = packed.collect()
        assert len(rows) == docs.count()  # every doc assigned exactly once

        # per (lang, bin): total <= capacity unless the bin is a single
        # oversized doc; bin ids start at 0 and are contiguous
        by_bin = (
            packed.groupBy("lang", "bin_id")
            .agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n"))
            .collect()
        )
        for r in by_bin:
            assert r.tot <= 256 or r.n == 1
        for lang_row in packed.groupBy("lang").agg(
            F.min("bin_id").alias("lo"),
            F.max("bin_id").alias("hi"),
            F.countDistinct("bin_id").alias("nd"),
        ).collect():
            assert lang_row.lo == 0
            assert lang_row.nd == lang_row.hi + 1

    def test_greedy_fold_exact(self, spark):
        # hand-checked stream: capacity 10, tokens 4,5,3,10,12,1
        pdf = packing._pack_stream(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3, 4, 5, 6],
                    "lang": ["en"] * 6,
                    "n_tokens": [4, 5, 3, 10, 12, 1],
                }
            ),
            capacity=10,
        )
        # 4+5=9 | 3 -> would be 12 > 10: new bin, 3+... 3+10>10: new bin
        # 10 alone | 12 oversized alone | 1
        assert list(pdf["bin_id"]) == [0, 0, 1, 2, 3, 4]


class TestShardAssign:
    def test_balance(self, spark):
        docs = _docs(spark)
        shards = packing.shard_assign(docs, n_shards=8).cache()
        stats = (
            shards.groupBy("shard")
            .agg(F.count("*").alias("n"), F.sum("n_tokens").alias("tok"))
            .collect()
        )
        assert len(stats) == 8
        counts = [r.n for r in stats]
        assert max(counts) - min(counts) <= 1
        toks = [r.tok for r in stats]
        max_doc = shards.agg(F.max("n_tokens")).first()[0]
        # serpentine dealing keeps shard token totals within one
        # largest-doc of each other
        assert max(toks) - min(toks) <= max_doc


class TestRepetition:
    def test_known_values(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a b c a b c a b c"),  # grams: 7 total, 3 distinct
                (2, "one two three four"),  # 2 grams, both distinct
                (3, "x y"),  # too short: filtered
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in text.repetition_features(df).collect()}
        assert set(out) == {1, 2}
        assert out[1].n_grams == 7 and out[1].n_distinct == 3
        assert out[1].is_repetitive
        assert out[2].n_grams == 2 and not out[2].is_repetitive


class TestRedact:
    def test_known_values(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a.b@x.io and c@d.org now"),
                (2, "call 555-1234 or 555-9999"),
                (3, "clean text only"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in text.redact_pii(df).collect()}
        assert out[1].n_emails == 2 and out[1].n_phones == 0
        assert out[1].redacted == "mail <EMAIL> and <EMAIL> now"
        assert out[2].n_phones == 2
        assert out[2].redacted == "call <PHONE> or <PHONE>"
        assert out[3].redacted == "clean text only"


class TestDecontaminate:
    def test_shared_ngram_flagged(self, spark):
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "doc_id long, lang string, text string"
        )
        secret = "alpha beta gamma delta epsilon"
        bench = mk([(100, "en", f"prefix {secret} suffix")])
        corpus = mk(
            [
                (1, "en", f"stolen {secret} verbatim here"),
                (2, "en", "completely unrelated words go here now"),
            ]
        )
        out = ngram_contamination(corpus, bench, n=5).collect()
        assert [r.doc_id for r in out] == [1]
        assert out[0].n_matched_grams >= 1

    def test_cross_lang_counts(self, spark):
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "doc_id long, lang string, text string"
        )
        secret = "uno dos tres cuatro cinco"
        bench = mk([(100, "es", secret)])
        corpus = mk([(1, "en", f"pad {secret} pad")])
        assert ngram_contamination(corpus, bench, n=5).count() == 1


class TestFrameSample:
    def test_frames_reassemble(self, spark):
        blobs = synth_blobs(spark, n=20).cache()
        frames = frame_sample(blobs, every_n_bytes=256)
        # order inside the aggregate (array_sort on frame_no), not via
        # a pre-shuffle orderBy collect_list ordering assumption
        rebuilt = frames.groupBy("blob_id").agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "frame_no",
                                F.lower(F.hex("frame_bytes")).alias("hx"),
                            )
                        )
                    ),
                    lambda s: s.getField("hx"),
                ),
            ).alias("hx")
        )
        orig = blobs.select("blob_id", F.lower(F.hex("content")).alias("hx"))
        assert rebuilt.exceptAll(orig).count() == 0
        assert orig.exceptAll(rebuilt).count() == 0


class TestDistributedRank:
    def test_matches_global_window(self, spark):
        docs = _docs(spark)
        via_window = {
            (r.doc_id): (r.n_tokens, r.shard)
            for r in packing.shard_assign(docs, n_shards=8).collect()
        }
        via_dist = {
            (r.doc_id): (r.n_tokens, r.shard)
            for r in packing.shard_assign(
                docs, n_shards=8, distributed=True
            ).collect()
        }
        assert via_window == via_dist

    def test_rank_is_dense_and_ordered(self, spark):
        df = spark.createDataFrame(
            [(i, (i * 37) % 100) for i in range(500)], "id long, v long"
        )
        from pyspark.sql import functions as SF

        ranked = packing.distributed_rank(df, [SF.desc("v"), SF.asc("id")], n_parts=7)
        rows = sorted(ranked.collect(), key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(500))
        keys = [(-r.v, r.id) for r in rows]
        assert keys == sorted(keys)

    def test_rank_correct_when_aqe_keeps_many_partitions(self, spark):
        """ADVICE r11 high regression: the number-free
        repartitionByRange plans at coalescePartitions.
        initialPartitionNum (512 in session.py), and with a tiny
        advisory size AQE does NOT coalesce below the old static
        offset bound (32) — the r11 explode form silently returned
        wrong ranks for every row past partition 31. Force that
        planning regime and assert dense correct ranks."""
        from pyspark.sql import functions as SF

        conf = spark.conf
        knobs = (
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        )
        prev = {k: conf.get(k, None) for k in knobs}
        for k in knobs:
            conf.set(k, "64b")
        try:
            df = spark.createDataFrame(
                [(i, (i * 7919) % 5000) for i in range(5000)],
                "id long, v long",
            )
            ranked = packing.distributed_rank(
                df, [SF.desc("v"), SF.asc("id")]
            )
            rows = sorted(ranked.collect(), key=lambda r: r.rnk)
            assert [r.rnk for r in rows] == list(range(5000))
            keys = [(-r.v, r.id) for r in rows]
            assert keys == sorted(keys)
        finally:
            for k in knobs:
                if prev[k] is None:
                    conf.unset(k)
                else:
                    conf.set(k, prev[k])

    def test_branches_agree_on_pid_when_aqe_coalesces(self, spark):
        """ADVICE r12: distributed_rank is right only while its counts
        branch and its join branch see one exchange's partitioning.
        At a size where AQE coalesces the range exchange to more than
        one partition, every __pid of the join branch must carry the
        row count the counts branch gave it, and the ranks must equal
        a global row_number."""
        from pyspark.sql import Window
        from pyspark.sql import functions as SF

        n = 300_000
        df = spark.range(n).select(
            "id", ((SF.col("id") * 7919) % 100_003).alias("v")
        )
        order = [SF.desc("v"), SF.asc("id")]
        ranged, bound = packing._ranged_by(df, order, None)
        counts = ranged.groupBy("__pid").agg(SF.count(SF.lit(1)).alias("__cnt"))
        per_pid = (
            ranged.join(SF.broadcast(counts), "__pid", "left")
            .groupBy("__pid")
            .agg(SF.count(SF.lit(1)).alias("n"), SF.max("__cnt").alias("cnt"))
            .collect()
        )
        assert 1 < len(per_pid) < bound, (len(per_pid), bound)
        assert all(r["n"] == r["cnt"] for r in per_pid), per_pid
        got = packing.distributed_rank(df, order).select("id", "rnk")
        want = df.select(
            "id", (SF.row_number().over(Window.orderBy(*order)) - 1).alias("rnk")
        )
        assert got.count() == n
        assert got.exceptAll(want).count() == 0


def test_redact_is_idempotent(spark):
    """Redaction tags must not themselves match any PII pattern —
    redact(redact(x)) == redact(x)."""
    df = spark.createDataFrame(
        [(1, "a.b@x.io then 555-1234 then c@d.net")],
        "doc_id long, text string",
    )
    once = text.redact_pii(df).select(
        "doc_id", F.col("redacted").alias("text")
    )
    twice = text.redact_pii(once).collect()[0]
    assert twice.redacted == "<EMAIL> then <PHONE> then <EMAIL>"
    assert twice.n_emails == 0 and twice.n_phones == 0


def test_pack_stream_invariants_random():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        toks=st.lists(st.integers(1, 40), min_size=1, max_size=60),
        cap=st.integers(5, 30),
    )
    def inner(toks, cap):
        pdf = packing._pack_stream(
            pd.DataFrame(
                {
                    "doc_id": range(len(toks)),
                    "lang": ["xx"] * len(toks),
                    "n_tokens": toks,
                }
            ),
            capacity=cap,
        )
        bins = list(pdf["bin_id"])
        # bin ids nondecreasing in doc order, starting at 0, no gaps
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
        # every bin within capacity unless it is a single oversized doc
        by_bin: dict[int, list[int]] = {}
        for b, t in zip(bins, pdf["n_tokens"]):
            by_bin.setdefault(b, []).append(int(t))
        for members in by_bin.values():
            assert sum(members) <= cap or len(members) == 1
        # greedy tightness: first doc of bin k+1 would NOT have fit bin k
        firsts = {}
        for b, t in zip(bins, pdf["n_tokens"]):
            firsts.setdefault(b, int(t))
        for k in range(1, len(by_bin)):
            assert sum(by_bin[k - 1]) + firsts[k] > cap

    inner()


def test_gopher_rules_semantics(spark):
    """Rule-by-rule checks on crafted docs (the oracle pins the
    fixture; this pins the rules on inputs the fixture lacks)."""
    from fhir2sql_spark.queries.curation import q_quality_gopher

    good = "the " + " ".join(["word"] * 48) + " with"  # 50 words, stops
    rows = [
        (1, good, "en"),
        (2, "too short with the", "en"),            # < 50 words
        (3, " ".join(["#!"] * 60), "en"),           # no alpha, no stops
        (4, "the " + " ".join(["a" * 20] * 49), "en"),  # mean len > 10
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    import fhir2sql_spark.queries.curation as cur
    orig = cur.load
    cur.load = lambda s, d, t: df
    try:
        out = {r["doc_id"]: r for r in q_quality_gopher(spark, "x").collect()}
    finally:
        cur.load = orig
    assert out[1]["keep"] is True
    assert out[1]["n_words"] == 50 and out[1]["stop_hits"] >= 2
    assert out[2]["keep"] is False          # word count rule
    assert out[3]["keep"] is False          # alpha + stopword rules
    assert out[3]["alpha_frac"] == 0.0
    assert out[4]["keep"] is False          # mean word length rule
    assert out[4]["mean_word_len"] > 10


def test_phash_dedup_python_reference(spark):
    """q_multimodal_phash_dedup == a pure-python dHash + brute-force
    Hamming scan on the same planted fixture: every within-group pair
    (one-byte-perturbed copies, <= 4 bits apart) surfaces with the
    exact distance; no pair beyond Hamming 4 leaks through the band
    blocking."""
    import hashlib
    from itertools import combinations

    from fhir2sql_spark.operators.multimodal import (
        phash_blobs,
        phash_dedup_pairs,
    )

    n = 200

    def blob_bytes(blob_id: int) -> bytes:
        grp, m = blob_id // 4, blob_id % 4
        h0 = (hashlib.sha256(f"pblob-{grp}".encode()).hexdigest() * 5)[:144]
        pb = hashlib.sha256(f"perturb-{blob_id}".encode()).hexdigest()[:2]
        p = m * 13 + 7
        return bytes.fromhex(h0[: p * 2] + pb + h0[p * 2 + 2 :])

    def dhash(b: bytes) -> int:
        h = 0
        for r in range(8):
            for c in range(8):
                if b[r * 9 + c] > b[r * 9 + c + 1]:
                    h |= 1 << (r * 8 + c)
        return h

    hashes = {i: dhash(blob_bytes(i)) for i in range(n)}
    want = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for a, b in combinations(range(n), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= 4
    }
    got = {
        (r["blob_a"], r["blob_b"]): r["hamming"]
        for r in phash_dedup_pairs(phash_blobs(spark, n=n), k=4).collect()
    }
    assert got == want
    # the plant worked: every within-group pair is present
    for g in range(n // 4):
        for a, b in combinations(range(g * 4, g * 4 + 4), 2):
            assert (a, b) in got and got[(a, b)] <= 4


def test_phash_band_blocking_plan(spark):
    """The candidate pipeline is the winnow_pairs cooccurrence shape:
    band buckets from ONE (band_no, band) exchange + double
    posexplode — a self-join on the bands table means the blocking
    regressed to all-pairs."""
    from fhir2sql_spark.operators.multimodal import (
        dhash_bands,
        phash_blobs,
        phash_dedup_pairs,
    )

    out = phash_dedup_pairs(phash_blobs(spark, n=200), k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # candidate generation contributes no join; the only joins are the
    # two blob_id-keyed band fetches for the exact distance
    assert plan.count("Generate explode") >= 2 or "PosExplode" in plan or "posexplode" in plan.lower(), plan
    assert "CartesianProduct" not in plan
    bands = dhash_bands(phash_blobs(spark, n=200))
    bplan = bands._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in bplan, "bands must ride the scan"
