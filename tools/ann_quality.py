"""Unified ANN quality harness: recall@k for every registered
similarity-search path, side by side, on one fixture (VERDICT r5
"Next round" #8).

Every approximate operator already carries its own recall-floor test;
what was missing is the COMPARATIVE view — one fixture, one k, one
query set, every index structure — so the accuracy-vs-cost tradeoff
is legible (the table in SCALE.md §ANN quality is generated by this
module's CLI).

Parameterization mirrors the registered queries exactly
(queries/llm.py q_embed_ann/ivf/ivf_trained/pq/pq_trained/ivfpq):
k=5, queries = vec_id < 10, LSH 8 planes seed 42, IVF 16 cells /
4 probed, PQ m=4 x 16 codes, trained variants via the integer-lattice
trainers the registered _trained queries run (operators/lattice.py:
lattice_kmeans + lattice_ivf_topk, lattice_pq_train +
lattice_pq_search, 2 Lloyd rounds each, on quantize(emb)).

Recall is measured against the exact baseline OF EACH METHOD'S
METRIC: cosine methods (LSH, IVF flat re-rank) against brute-force
cosine top-k; L2/ADC methods (PQ, IVF-PQ, both lattice-trained rows,
whose distances are integer squared L2) against brute-force squared
L2 top-k. The fixture's embeddings are NOT normalized, so the two
exact baselines genuinely differ — comparing an ADC ranking to a
cosine baseline would conflate metric choice with quantization loss.

Usage:  python tools/ann_quality.py [sf_dir]   # default sf0.01
Emits a GitHub-markdown table + one JSON line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from fhir2sql_spark.operators import lattice, pq, similarity  # noqa: E402
from fhir2sql_spark.session import get_spark  # noqa: E402
from fhir2sql_spark.tables import load  # noqa: E402

K = 5
N_QUERIES = 10


def _exact_l2_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Brute-force squared-L2 top-k, same broadcast-crossJoin shape as
    similarity.cosine_topk (the PQ family's exact baseline metric)."""
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = corpus.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    d2 = F.aggregate(
        F.zip_with(
            "q_vec",
            "c_vec",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", d2.alias("d2"))
    )
    w = Window.partitionBy("q_id").orderBy("d2", "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "c_id")
    )


def _pairs(df: DataFrame) -> set[tuple]:
    return {(r["q_id"], r["c_id"]) for r in df.select("q_id", "c_id").collect()}


def _recall(approx: set[tuple], exact: set[tuple]) -> float:
    return len(approx & exact) / len(exact) if exact else 0.0


def planted_embeddings(
    spark: SparkSession,
    n_clusters: int = 16,
    per_cluster: int = 32,
    dim: int = 64,
    jitter: float = 0.05,
) -> DataFrame:
    """Deterministic clustered fixture: ``n_clusters`` unit-norm
    gaussian centers (fixed seed), each with ``per_cluster`` members =
    center + small jitter. vec_ids are cluster-major (cluster c owns
    ids [c*per_cluster, (c+1)*per_cluster)), which makes the first-N
    stand-in codebooks maximally unrepresentative — the first 16
    corpus vectors are all MEMBERS OF CLUSTER 0 — so this fixture
    shows what training buys when the data has structure (the driver
    fixture is iid gaussian, where no codebook can beat another)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for c in range(n_clusters):
        noise = rng.normal(size=(per_cluster, dim)) * jitter
        for i in range(per_cluster):
            rows.append(
                (c * per_cluster + i, (centers[c] + noise[i]).tolist())
            )
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def ann_quality(
    spark: SparkSession,
    sf_dir: str | None,
    emb: DataFrame | None = None,
    query_pred=None,
    per_cluster: int | None = None,
) -> list[dict]:
    """Run every ANN path on ``sf_dir``'s embeddings table (or an
    explicit ``emb`` DataFrame) and return one row per method: name,
    baseline metric, recall@5, result rows, wall seconds.
    Deterministic for a fixed fixture (all seeds fixed, trainers
    deterministic). ``query_pred`` overrides the query-row predicate
    (default: vec_id < 10, matching the registered queries)."""
    if emb is None:
        emb = load(spark, sf_dir, "embeddings")
    if query_pred is None:
        query_pred = F.col("vec_id") < N_QUERIES
    q = emb.where(query_pred)

    def cluster_precision(pairs: set[tuple]) -> float | None:
        """Planted fixture only (``per_cluster`` set): fraction of
        returned candidates in the query's true cluster. This is the
        right metric for quantizers on clustered data — recall@5
        there measures WITHIN-cluster fine ranking, which ADC
        discards by design (all ~31 same-cluster members are nearly
        equidistant, so the exact top-5 is decided by jitter the
        codes cannot represent)."""
        if per_cluster is None or not pairs:
            return None
        ok = sum(
            1 for qa, ca in pairs if qa // per_cluster == ca // per_cluster
        )
        return round(ok / len(pairs), 4)

    exact_cos = _pairs(similarity.cosine_topk(q, emb, k=K))
    exact_l2 = _pairs(_exact_l2_topk(q, emb, k=K))

    def run(name, baseline, build):
        t0 = time.time()
        got = _pairs(build())
        dt = time.time() - t0
        base = exact_cos if baseline == "cosine" else exact_l2
        return {
            "method": name,
            "baseline": baseline,
            "recall_at_5": round(_recall(got, base), 4),
            "cluster_precision": cluster_precision(got),
            "rows": len(got),
            "sec": round(dt, 2),
        }

    qv = lattice.materialize(lattice.quantize(emb))
    q_qv = lattice.quantize(q)
    cents = lattice.lattice_kmeans(qv, k=16, iters=2)
    books = lattice.lattice_pq_train(qv, m=4, n_codes=16, iters=2)

    rows = [
        {
            "method": "exact cosine (brute force)",
            "baseline": "cosine",
            "recall_at_5": 1.0,
            "cluster_precision": cluster_precision(exact_cos),
            "rows": len(exact_cos),
            "sec": None,
        },
        {
            "method": "exact L2 (brute force)",
            "baseline": "l2",
            "recall_at_5": 1.0,
            "cluster_precision": cluster_precision(exact_l2),
            "rows": len(exact_l2),
            "sec": None,
        },
        run(
            "LSH (8 hyperplanes, exact re-rank)",
            "cosine",
            lambda: similarity.ann_topk_lsh(q, emb, k=K, n_planes=8, seed=42),
        ),
        run(
            "IVF 16 cells / 4 probed (first-N codebook)",
            "cosine",
            lambda: similarity.ivf_topk(q, emb, k=K, n_centroids=16, n_probe=4),
        ),
        run(
            "IVF 16/4 (lattice-trained k-means codebook)",
            "l2",
            lambda: lattice.lattice_ivf_topk(q_qv, qv, cents, k=K, n_probe=4),
        ),
        run(
            "PQ/ADC m=4 x 16 codes (first-N codewords)",
            "l2",
            lambda: pq.pq_search(q, emb, k=K, m=4, n_codes=16),
        ),
        run(
            "PQ/ADC m=4 x 16 (lattice-trained Lloyd codebooks)",
            "l2",
            lambda: lattice.lattice_pq_search(q_qv, qv, books, k=K, m=4),
        ),
        run(
            "IVF-PQ 16 cells x 16 codes, 4 probed",
            "l2",
            lambda: pq.ivfpq_search(
                q, emb, k=K, n_cells=16, m=4, n_codes=16, n_probe=4
            ),
        ),
    ]
    return rows


def markdown_table(rows: list[dict]) -> str:
    clustered = any(r.get("cluster_precision") is not None for r in rows)
    hdr = "| Method | Baseline metric | Recall@5 |"
    sep = "|---|---|---|"
    if clustered:
        hdr += " Cluster precision |"
        sep += "---|"
    out = [hdr + " Rows | Wall (s) |", sep + "---|---|"]
    for r in rows:
        sec = "—" if r["sec"] is None else f"{r['sec']:.2f}"
        line = (
            f"| {r['method']} | {r['baseline']} | {r['recall_at_5']:.2f} |"
        )
        if clustered:
            cp = r.get("cluster_precision")
            line += " — |" if cp is None else f" {cp:.2f} |"
        out.append(line + f" {r['rows']} | {sec} |")
    return "\n".join(out)


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ann-quality")
    spark.sparkContext.setLogLevel("ERROR")
    rows = ann_quality(spark, sf_dir)
    print(f"## iid-gaussian fixture ({sf_dir})")
    print(markdown_table(rows))
    planted = planted_embeddings(spark)
    # one query per cluster, clusters 0-9
    pred = (F.col("vec_id") % 32 == 0) & (F.col("vec_id") < 10 * 32)
    prows = ann_quality(spark, None, emb=planted, query_pred=pred, per_cluster=32)
    print("\n## planted 16-cluster fixture (512 vecs, jitter 0.05)")
    print(markdown_table(prows))
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "k": K,
                "gaussian": rows,
                "planted": prows,
            }
        )
    )
