"""Probe-only decade measurements for the frozen-index incremental
dedups (VERDICT r9 #2): persist each family's frozen index ONCE as a
bucketed table, then time the per-ingest probe alone — separating the
stored-index cost (build, paid once) from the per-batch cost (probe,
paid every ingest) that the operators' 100 TB posture is argued on.

Usage:
    python tools/measure_probe.py --sf /root/repo/.data/sf1 \
        [--wh /tmp/probe_wh] [--families setsim,containment,minhash] \
        [--runs 2]

Methodology is SCALE.md's decade-table protocol: fresh session per
invocation, serial, warm best-of-N, noop-sink materialization (full
evaluation of every output column). Build times are best-of-1 (the
write is the measurement). Output markers:

    >>PROBE build <family> <sf> <secs>
    >>PROBE probe <query> <sf> <secs>
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--wh", default="/tmp/frozen_probe_wh")
    ap.add_argument(
        "--families", default="setsim,containment,minhash"
    )
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument(
        "--shards",
        type=int,
        default=4,
        help="ingest shards for the *_stored families' batch-side "
        "builds (each shard's prefix derivation is timed as its own "
        "build — the per-ingest amortized cost)",
    )
    args = ap.parse_args()
    fams = set(args.families.split(","))
    tag = Path(args.sf).name

    from pyspark.sql import functions as F

    from fhir2sql_spark.operators import frozen_index as fz
    from fhir2sql_spark.session import get_spark
    from fhir2sql_spark.tables import load

    spark = get_spark("measure-probe")
    docs = load(spark, args.sf, "documents")
    corpus = docs.where(F.col("doc_id") % 3 != 0)

    def build(name: str, df, cols) -> None:
        t0 = time.monotonic()
        fz.persist_index(
            df, f"fz_{name}_{tag}".replace(".", "_"),
            f"{args.wh}/{tag}/{name}", cols, buckets=args.buckets,
        )
        print(
            f">>PROBE build {name} {tag} {time.monotonic() - t0:.2f}s",
            flush=True,
        )

    def tbl(name: str):
        return spark.table(f"fz_{name}_{tag}".replace(".", "_"))

    def probe(qname: str, df_fn) -> None:
        best = float("inf")
        for _ in range(args.runs):
            t0 = time.monotonic()
            df_fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        print(f">>PROBE probe {qname} {tag} {best:.2f}s", flush=True)

    batch = docs.where(F.col("doc_id") % 3 == 0)

    def build_sharded(name: str, shard_df_fn, cols) -> None:
        """Per-ingest-shard batch-side build (VERDICT r11 #6): each
        shard's derivation is its own timed append — the cost ONE
        ingest pays — into a single bucketed table."""
        tname = f"fz_{name}_{tag}".replace(".", "_")
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        for s in range(args.shards):
            shard = batch.where(
                F.expr(f"pmod(doc_id div 3, {args.shards}) = {s}")
            )
            t0 = time.monotonic()
            fz.persist_index(
                shard_df_fn(shard),
                tname,
                f"{args.wh}/{tag}/{name}",
                cols,
                buckets=args.buckets,
                mode="append" if s else "overwrite",
            )
            print(
                f">>PROBE build {name}[shard{s}/{args.shards}] {tag} "
                f"{time.monotonic() - t0:.2f}s",
                flush=True,
            )

    needs_stats = fams & {
        "setsim", "containment", "containment_pos",
        "setsim_stored", "containment_stored",
    }
    if needs_stats:
        build("stats", fz.corpus_token_stats(corpus), ("__sid",))
    if fams & {"setsim", "setsim_stored"}:
        build(
            "setsim_prefix",
            fz.build_setsim_prefix_index(corpus),
            ("__sid",),
        )
    if "setsim" in fams:
        probe(
            "q_dedup_setsim_inc",
            lambda: fz.setsim_probe(
                docs, tbl("stats"), tbl("setsim_prefix")
            ),
        )
    if "setsim_stored" in fams:
        build_sharded(
            "setsim_batch_prefix",
            lambda sh: fz.build_batch_prefix_index(
                sh, tbl("stats"), threshold_num=1, threshold_den=2, n=5
            ),
            ("__sid",),
        )
        probe(
            "q_dedup_setsim_inc[stored-prefix]",
            lambda: fz.setsim_probe_stored(
                docs, tbl("setsim_batch_prefix"), tbl("setsim_prefix")
            ),
        )
    if fams & {"containment", "containment_stored"}:
        build(
            "contain_full",
            fz.build_containment_posting_index(corpus),
            ("__sid",),
        )
    if "containment" in fams:
        probe(
            "q_dedup_containment_inc",
            lambda: fz.containment_probe(
                docs, tbl("stats"), tbl("contain_full")
            ),
        )
    if "containment_stored" in fams:
        build_sharded(
            "contain_batch_prefix",
            lambda sh: fz.build_batch_prefix_index(
                sh, tbl("stats"), threshold_num=4, threshold_den=5, n=5
            ),
            ("__sid",),
        )
        build_sharded(
            "contain_batch_full",
            lambda sh: fz.build_batch_posting_index(sh, n=5),
            ("__sid",),
        )
        probe(
            "q_dedup_containment_inc[stored-prefix]",
            lambda: fz.containment_probe_stored(
                docs,
                tbl("contain_batch_prefix"),
                tbl("contain_batch_full"),
                tbl("contain_full"),
            ),
        )
    if "containment_pos" in fams:
        build(
            "contain_ranked",
            fz.ranked_postings(corpus, tbl("stats")),
            ("__sid",),
        )
        probe(
            "q_dedup_containment_inc[positional]",
            lambda: fz.containment_probe_positional(
                docs, tbl("stats"), tbl("contain_ranked")
            ),
        )
    if "minhash" in fams:
        build(
            "minhash_bands",
            fz.build_minhash_band_index(corpus),
            ("band", "bkey"),
        )
        probe(
            "q_dedup_minhash_inc",
            lambda: fz.minhash_probe(docs, tbl("minhash_bands")),
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
