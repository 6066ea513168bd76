"""Comparative ANN quality floors (tools/ann_quality.py — VERDICT r5
#8): one fixture, every index structure, recall@5 side by side.

The per-operator tests already pin individual floors; this suite pins
the RELATIONSHIPS the SCALE.md table claims:

- on clustered data, the lattice-trained codebooks are at least as
  good as the first-N stand-ins (IVF exact-recall, PQ cluster
  precision);
- every quantizer keeps cluster-level retrieval nearly perfect on
  clustered data even where recall@5 is low (the within-cluster
  fine-ranking artifact the table documents);
- the harness itself is deterministic (fixed seeds end to end), so
  these are stable pins, not flaky statistics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tools.ann_quality import ann_quality, planted_embeddings

# whole module rides the slow lane: the planted-corpus session fixture
# alone is ~54 s (trained IVF build)
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def planted_rows(spark):
    emb = planted_embeddings(spark)
    pred = (F.col("vec_id") % 32 == 0) & (F.col("vec_id") < 10 * 32)
    rows = ann_quality(spark, None, emb=emb, query_pred=pred, per_cluster=32)
    return {r["method"]: r for r in rows}


def test_planted_trained_ivf_beats_or_ties_standin(planted_rows):
    trained = planted_rows["IVF 16/4 (lattice-trained k-means codebook)"]
    standin = planted_rows["IVF 16 cells / 4 probed (first-N codebook)"]
    assert trained["recall_at_5"] >= standin["recall_at_5"]
    assert trained["recall_at_5"] >= 0.95


def test_planted_trained_pq_cluster_precision(planted_rows):
    trained = planted_rows["PQ/ADC m=4 x 16 (lattice-trained Lloyd codebooks)"]
    standin = planted_rows["PQ/ADC m=4 x 16 codes (first-N codewords)"]
    assert trained["cluster_precision"] >= standin["cluster_precision"]
    assert trained["cluster_precision"] >= 0.95


def test_planted_all_quantizers_cluster_precise(planted_rows):
    """Even where recall@5 is low (within-cluster fine ranking), every
    index keeps candidates inside the right cluster."""
    for method, r in planted_rows.items():
        if r["cluster_precision"] is not None:
            assert r["cluster_precision"] >= 0.9, (method, r)


def test_planted_lsh_locality(planted_rows):
    """Random-hyperplane LSH finds SOME true neighbors on clustered
    data (it finds none on iid gaussian at this plane count — the
    honest comparison the SCALE.md table makes)."""
    lsh = planted_rows["LSH (8 hyperplanes, exact re-rank)"]
    assert lsh["recall_at_5"] >= 0.2
    assert lsh["cluster_precision"] >= 0.95


def test_harness_deterministic(spark, planted_rows):
    emb = planted_embeddings(spark)
    pred = (F.col("vec_id") % 32 == 0) & (F.col("vec_id") < 10 * 32)
    again = {
        r["method"]: r
        for r in ann_quality(
            spark, None, emb=emb, query_pred=pred, per_cluster=32
        )
    }
    for method, r in planted_rows.items():
        assert again[method]["recall_at_5"] == r["recall_at_5"], method
        assert (
            again[method]["cluster_precision"] == r["cluster_precision"]
        ), method
