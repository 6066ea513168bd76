"""CLI for the sync pipeline — the daemon surface of the reference
(/root/reference/src/main.rs:342-414) re-expressed as a Spark job.

    python -m fhir2sql_spark sync --bundle-dir pages/ --db mirror.db \
        --table patient [--interval-s 60] [--once]

Config comes from flags or environment (FHIR2SQL_* vars mirroring the
reference's env config, src/main.rs:352-365); unlike the reference,
missing required values produce a usage error, not a panic.

Scheduling: ``--once`` runs a single sync (the reference's startup
sync); ``--interval-s`` polls like the reference's tokio interval
(src/main.rs:390-411) but without the double-fire window — each
completed sync records its wall-clock and the next fires one full
interval later. SIGINT/SIGTERM end the loop between syncs (graceful
shutdown, src/graceful_shutdown.rs:3-16); an in-flight sync finishes
first, same as the reference.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sqlite3
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="fhir2sql_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sync", help="sync bundle pages into a mirror DB")
    s.add_argument(
        "--bundle-dir",
        default=os.environ.get("FHIR2SQL_BUNDLE_DIR"),
        help="directory of searchset bundle JSON files (one per page)",
    )
    s.add_argument(
        "--db",
        default=os.environ.get("FHIR2SQL_DB"),
        help="sqlite mirror database path (stand-in for the PG DSN)",
    )
    s.add_argument(
        "--table",
        default=os.environ.get("FHIR2SQL_TABLE", "patient"),
    )
    s.add_argument("--batch-size", type=int, default=10_000)
    s.add_argument("--interval-s", type=int, default=None)
    s.add_argument("--once", action="store_true")
    return p


def _sync_once(spark, bundle_dir: str, db: str, table: str, batch_size: int) -> dict:
    from fhir2sql_spark.sinks.jdbc_upsert import create_mirror_tables
    from fhir2sql_spark.sources.rest_pages import register_bundle_file_source
    from fhir2sql_spark.sync.pipeline import sync_resources

    def connect():
        return sqlite3.connect(db, timeout=60, check_same_thread=False)

    create_mirror_tables(connect, [table])
    register_bundle_file_source(spark)
    src = spark.read.format("fhir_bundles").option("path", bundle_dir).load()
    stats = sync_resources(spark, src, connect, table, batch_size)
    return {
        "table": table,
        "inserts": stats.inserts,
        "updates": stats.updates,
        "deletes": stats.deletes,
        "noops": stats.noops,
        "malformed": stats.malformed,
        "reconciled": stats.counts_match,
    }


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if not args.bundle_dir or not args.db:
        print("error: --bundle-dir and --db are required", file=sys.stderr)
        return 2

    from fhir2sql_spark.session import get_spark

    spark = get_spark("fhir2sql-sync")
    stop = {"flag": False}

    def _on_signal(signum, frame):  # graceful: finish in-flight sync
        stop["flag"] = True

    signal.signal(signal.SIGINT, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)

    while True:
        result = _sync_once(
            spark, args.bundle_dir, args.db, args.table, args.batch_size
        )
        print(json.dumps(result), flush=True)
        if args.once or args.interval_s is None or stop["flag"]:
            return 0
        deadline = time.time() + args.interval_s
        while time.time() < deadline:
            if stop["flag"]:
                return 0
            time.sleep(min(1.0, deadline - time.time()))


if __name__ == "__main__":
    raise SystemExit(main())
