"""Pipeline-diagnostics queries (queries/diagnostics.py, round 8).
Exact end-to-end parity runs in test_oracle_parity/drivercheck; these
pin the invariants the oracles rely on: count conservation and the
integer form of the decision predicates. The lattice_assign operator
they share is tested in tests/test_lattice.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fhir2sql_spark import registry
from fhir2sql_spark.tables import load

registry.load_all()


def test_skew_profile_invariants(spark, sf_dir):
    out = registry.QUERIES["q_diag_skew"](spark, sf_dir).collect()
    assert 0 < len(out) <= 10
    cnts = [r["cnt"] for r in out]
    assert cnts == sorted(cnts, reverse=True)
    ev = load(spark, sf_dir, "events")
    total = ev.count()
    n_keys = ev.select("user_id").distinct().count()
    for r in out:
        # the salting decision is the pure-integer predicate
        assert r["needs_salt"] == (r["cnt"] * n_keys >= 4 * total)
        assert abs(r["skew_x"] - r["cnt"] * n_keys / total) < 1e-6
        assert abs(r["share"] - r["cnt"] / total) < 1e-6


@pytest.mark.slow
def test_codebook_drift_conserves_counts(spark, sf_dir):
    out = registry.QUERIES["q_diag_codebook_drift"](spark, sf_dir).collect()
    assert len(out) == 16  # one row per codebook cell, empty cells kept
    emb = load(spark, sf_dir, "embeddings")
    n_base = emb.where(F.col("vec_id") % 3 != 0).count()
    n_new = emb.where(F.col("vec_id") % 3 == 0).count()
    assert sum(r["n_base"] for r in out) == n_base
    assert sum(r["n_new"] for r in out) == n_new
    tvd = sum(r["tvd_contrib"] for r in out)
    assert 0.0 <= tvd <= 1.0
    tb, tn = n_base, n_new
    for r in out:
        expect = (
            r["n_new"] * tb > 2 * r["n_base"] * tn
            or r["n_base"] * tn > 2 * r["n_new"] * tb
        )
        assert r["drifted"] == expect


def test_token_drift_planted_fixture(spark, tmp_path):
    """Planted drift: base docs speak 'aaa', the batch introduces
    'zzz' — the new token must surface as a drifted mover with
    n_base = 0, and shares/flags must satisfy the exact-integer
    rules recomputed from raw counts."""
    rows = []
    for i in range(1, 13):
        if i % 3 == 0:
            rows.append((i, "zzz bbb", "en"))
        else:
            rows.append((i, "aaa bbb", "en"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = registry.QUERIES["q_diag_token_drift"](
        spark, str(tmp_path)
    ).collect()
    by_tok = {r["token"]: r for r in out}
    # base: 8 docs x (aaa, bbb) -> tb=16; batch: 4 x (zzz, bbb) -> tn=8
    assert by_tok["zzz"]["n_base"] == 0
    assert by_tok["zzz"]["n_new"] == 4
    assert by_tok["zzz"]["drifted"] is True
    assert by_tok["aaa"]["n_new"] == 0
    assert by_tok["aaa"]["drifted"] is True
    assert by_tok["bbb"]["drifted"] is False  # share 1/2 both sides
    assert abs(by_tok["bbb"]["tvd_contrib"]) < 1e-9
    # movers ordered by |n_new*tb - n_base*tn| desc, token asc:
    # aaa d=8*8=64, zzz d=4*16=64 -> tie broken by token
    assert [r["token"] for r in out[:3]] == ["aaa", "zzz", "bbb"]


def test_token_drift_invariants(spark, sf_dir):
    out = registry.QUERIES["q_diag_token_drift"](spark, sf_dir).collect()
    assert 0 < len(out) <= 10
    d = load(spark, sf_dir, "documents")
    from fhir2sql_spark.operators.text import tokens_portable

    toks = d.select(
        (F.col("doc_id") % 3 == 0).alias("nw"),
        F.explode(tokens_portable(F.col("text"))).alias("w"),
    ).where(F.col("w") != "")
    tb = toks.where(~F.col("nw")).count()
    tn = toks.where(F.col("nw")).count()
    for r in out:
        assert 0.0 <= r["share_base"] <= 1.0
        assert 0.0 <= r["share_new"] <= 1.0
        expect_flag = (
            r["n_new"] * tb > 2 * r["n_base"] * tn
            or r["n_base"] * tn > 2 * r["n_new"] * tb
        )
        assert r["drifted"] == expect_flag
        assert (
            abs(
                r["tvd_contrib"]
                - abs(r["n_new"] / tn - r["n_base"] / tb) / 2
            )
            < 1e-6
        )


def test_bootstrap_se_python_replay(spark, tmp_path):
    """Planted fixture: the deterministic Poisson bootstrap must
    equal a pure-Python replay (hashlib sha256, same hex thresholds,
    same 6-dp rounding and ordered fold)."""
    import hashlib
    import math

    rows = [(i, " ".join(["w"] * (i % 7 + 1)), "en") for i in range(1, 41)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = registry.QUERIES["q_diag_bootstrap_se"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    got = out[0]

    def kval(r, doc_id):
        b = hashlib.sha256(f"boot|{r}|{doc_id}".encode()).hexdigest()[:2]
        if b < "5e":
            return 0
        if b < "bc":
            return 1
        if b < "eb":
            return 2
        return 3

    nt = {i: len(t.split(" ")) for i, t, _ in rows}
    means = []
    for r in range(16):
        s = sum(kval(r, i) * nt[i] for i in nt)
        c = sum(kval(r, i) for i in nt)
        means.append(round(s / c, 6))
    mu = sum(means) / 16
    se = math.sqrt(sum((x - mu) * (x - mu) for x in means) / 15)
    assert got["n_docs"] == 40
    assert got["n_replicates"] == 16
    assert abs(got["point_mean"] - round(sum(nt.values()) / 40, 6)) < 1e-9
    assert abs(got["boot_mean"] - round(mu, 6)) < 1e-9
    assert abs(got["boot_se"] - round(se, 6)) < 1e-9


def test_bootstrap_se_invariants(spark, sf_dir):
    r = registry.QUERIES["q_diag_bootstrap_se"](spark, sf_dir).collect()[0]
    assert r["boot_se"] >= 0.0
    # replicate means resample the same population: the bootstrap mean
    # stays within a few SEs of the point estimate
    assert abs(r["boot_mean"] - r["point_mean"]) <= max(
        5 * r["boot_se"], 1e-6
    )
