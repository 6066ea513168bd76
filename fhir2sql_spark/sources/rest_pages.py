"""Paginated REST bundle source — the reference's scan operator (R1).

The reference GETs searchset bundles and follows ``link[rel=next]``
until absent (/root/reference/src/main.rs:150-157, 199-270), with
``?_count={page}&_history=current`` pushdown (src/main.rs:194-195).

Spark-first re-expression, two tiers:

1. ``iter_bundle_entries`` + ``read_bundles``: a driver-side page
   walker whose page batches become Arrow record batches of one
   DataFrame (``sources/arrow_rows.py``: no Python worker reads it).
   Most sync tests read through it. The transport is a callable
   ``fetch(url) -> dict`` so tests inject fixture bundles and
   production injects requests.get(...).json(); retry/backoff mirrors
   the reference's bounded retry (src/db_utils.rs:35-59).

2. ``BundleFileDataSource``: a Spark 4 Python DataSource reading a
   directory of bundle-JSON files. The batch reader packs the sorted
   files into consecutive partitions, each one Python worker task. A
   task costs about 0.27 CPU-s to start whatever its row count (SCALE.md,
   "Cost of one Python worker task"), so one task per 200-resource page
   spent more on start-up than on parsing. The byte target per
   partition is the split size Spark's file sources work out,
   min(maxPartitionBytes, max(openCostInBytes, total bytes / cores)),
   at Spark's defaults of 128 MB and 4 MB: a directory under 4 MB is one
   task, and a larger one spreads over every core (the reference
   fetches pages strictly serially). Unlike Spark, the reader charges no
   4 MB open cost per file: with it, a 2 MB directory of ten pages
   would still spread over four tasks on four cores.

Row-level tolerance mirrors the reference: malformed resources are
skipped, never fatal (src/main.rs:210-225); a page without ``entry``
ends the scan (src/main.rs:201-207).
"""

from __future__ import annotations

import itertools
import json
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from fhir2sql_spark.sources.arrow_rows import arrow_frame

# Bounds of the bytes of bundle files per batch read partition:
# Spark's defaults of spark.sql.files.maxPartitionBytes and
# spark.sql.files.openCostInBytes.
MAX_PARTITION_BYTES = 128 * 1024 * 1024
OPEN_COST_BYTES = 4 * 1024 * 1024

BUNDLE_SCHEMA = StructType(
    [
        StructField("resource", StringType(), nullable=False),
    ]
)


def iter_bundle_entries(
    first_url: str,
    fetch: Callable[[str], dict],
    max_pages: int | None = None,
    attempts: int = 3,
    backoff_s: float = 0.0,
) -> Iterator[str]:
    """Walk bundle pages, yielding raw resource JSON strings.

    Follows link[rel=next]; stops on a missing next link, a page with
    no entries, or after max_pages. Fetch errors retry ``attempts``
    times with ``backoff_s`` sleeps (reference: 20x60s,
    src/db_utils.rs:55)."""
    url: str | None = first_url
    pages = 0
    while url is not None and (max_pages is None or pages < max_pages):
        bundle = None
        for attempt in range(attempts):
            try:
                bundle = fetch(url)
                break
            except Exception:
                if attempt == attempts - 1:
                    raise
                if backoff_s:
                    time.sleep(backoff_s)
        assert bundle is not None
        entries = bundle.get("entry")
        if not entries:
            # warn-and-break path (src/main.rs:201-207)
            return
        for e in entries:
            res = e.get("resource")
            if res is None:
                continue  # skip-malformed (src/main.rs:210-216)
            yield json.dumps(res, separators=(",", ":"), sort_keys=True)
        pages += 1
        url = next(
            (
                l.get("url")
                for l in bundle.get("link", [])
                if l.get("relation") == "next"
            ),
            None,
        )


def read_bundles(
    spark: SparkSession,
    first_url: str,
    fetch: Callable[[str], dict],
    page_batch: int = 10_000,
    max_pages: int | None = None,
) -> DataFrame:
    """Materialize the page walk as a DataFrame of raw resource JSON.

    Every ``page_batch`` resources become one Arrow record batch, so the
    driver holds the walk as compact Arrow data, not Python rows, and
    the JVM reads the frame with no Python worker task.
    Downstream processing (version extraction, diff, sink) is fully
    distributed. For true source parallelism use BundleFileDataSource /
    per-offset page URLs."""
    entries = iter_bundle_entries(first_url, fetch, max_pages=max_pages)
    batches = iter(lambda: list(itertools.islice(entries, page_batch)), [])
    return arrow_frame(spark, BUNDLE_SCHEMA, ([batch] for batch in batches))


def search_url(
    base_url: str,
    resource_type: str,
    page_resource_count: int = 5_000,
    history: str = "current",
) -> str:
    """The reference's search URL with ``_count``/``_history``
    pushdown (src/main.rs:194-195): page size and version filtering
    evaluate server-side, so the walker never over-fetches.
    ``page_resource_count=5000`` is the reference default
    (src/main.rs:358)."""
    return (
        f"{base_url}/fhir/{resource_type}"
        f"?_count={page_resource_count}&_history={history}"
    )


def health_url(base_url: str) -> str:
    """The reference's liveness endpoint (src/db_utils.rs:44)."""
    return f"{base_url}/health"


def http_fetch(
    timeout_s: float = 30.0, headers: dict[str, str] | None = None
) -> Callable[[str], dict]:
    """Batteries-included production transport: stdlib urllib (no
    extra dependency), JSON-decoding, raising on HTTP error status,
    timeout, or malformed JSON so the callers' bounded retries
    (iter_bundle_entries / check_source_health) govern recovery —
    the reference's reqwest GET + serde decode
    (src/main.rs:150-157)."""
    import urllib.request

    hdrs = {"Accept": "application/fhir+json", **(headers or {})}

    def fetch(url: str) -> dict:
        req = urllib.request.Request(url, headers=hdrs)
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
            return json.load(resp)

    return fetch


def http_probe(timeout_s: float = 30.0) -> Callable[[str], bool]:
    """Liveness transport with the reference's semantics: ANY HTTP
    response — including 4xx/5xx — counts as alive (the reference
    only fails on transport errors and deliberately never inspects
    the status, src/db_utils.rs:45-48). Raises only on connection/
    timeout errors, so check_source_health's 20x60s retry loop
    matches the reference exactly."""
    import urllib.error
    import urllib.request

    def probe(url: str) -> bool:
        try:
            with urllib.request.urlopen(url, timeout=timeout_s):  # noqa: S310
                return True
        except urllib.error.HTTPError:
            return True  # got a response; status deliberately ignored

    return probe


def check_source_health(
    fetch: Callable[[str], object],
    url: str,
    attempts: int = 20,
    backoff_s: float = 60.0,
    sleep: Callable[[float], None] = time.sleep,
) -> bool:
    """Bounded-retry liveness probe, mirroring the reference's Blaze
    health check (/root/reference/src/db_utils.rs:35-59: 20 attempts,
    60s backoff — and like it, ANY response counts as healthy; the
    status is deliberately not inspected, src/db_utils.rs:45-48)."""
    for attempt in range(attempts):
        try:
            fetch(url)
            return True
        except Exception:
            if attempt < attempts - 1:
                sleep(backoff_s)
    return False


def register_bundle_file_source(spark: SparkSession) -> None:
    """Register the Spark 4 Python DataSource ``fhir_bundles``.

    Batch: the sorted bundle files packed into consecutive partitions
    of up to min(``MAX_PARTITION_BYTES``, max(``OPEN_COST_BYTES``,
    total bytes / cores)) each, unless one file alone is larger; a
    partition reads its files in order. Streaming: a
    SimpleDataSourceStreamReader whose offset is the count of files
    already ingested — new page files appearing in the directory flow
    into each micro-batch, turning the reference's poll loop into an
    incremental source. Unlike ``iter_bundle_entries``, a file without
    entries yields no rows and the read goes on with the next file.

    The helpers and reader classes live in this function so that
    cloudpickle ships them to executors by value: executors then never
    import this package (nor pyarrow with it)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    def bundle_files(directory: str) -> list[str]:
        import glob
        import os

        return sorted(glob.glob(os.path.join(directory, "*.json")))

    def bundle_rows(path: str) -> Iterator[tuple[str]]:
        # skip-malformed (src/main.rs:210-216), as iter_bundle_entries
        with open(path) as fh:
            bundle = json.load(fh)
        for e in bundle.get("entry") or []:
            res = e.get("resource")
            if res is not None:
                yield (json.dumps(res, separators=(",", ":"), sort_keys=True),)

    class _BundlePartition(InputPartition):
        def __init__(self, paths: list[str]) -> None:
            self.paths = paths

    class _BundleReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.dir = options["path"]

        def partitions(self):  # noqa: D102
            import os

            sized = [(f, os.path.getsize(f)) for f in bundle_files(self.dir)]
            per_core = sum(size for _, size in sized) // (os.cpu_count() or 1)
            target = min(MAX_PARTITION_BYTES, max(OPEN_COST_BYTES, per_core))
            parts: list[_BundlePartition] = []
            room = 0
            for path, size in sized:
                if not parts or size > room:
                    parts.append(_BundlePartition([]))
                    room = target
                parts[-1].paths.append(path)
                room -= size
            return parts

        def read(self, partition):  # noqa: D102
            # Spark reads an empty partition list as one None partition.
            for path in partition.paths if partition is not None else []:
                yield from bundle_rows(path)

    class _BundleStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options: dict) -> None:
            self.dir = options["path"]

        def initialOffset(self) -> dict:
            return {"ingested": 0}

        def read(self, start: dict):
            files = bundle_files(self.dir)
            rows = [row for f in files[start["ingested"] :] for row in bundle_rows(f)]
            return iter(rows), {"ingested": len(files)}

        def readBetweenOffsets(self, start: dict, end: dict):
            # replay for recovery: deterministic because files are
            # immutable and ordered
            for f in bundle_files(self.dir)[start["ingested"] : end["ingested"]]:
                yield from bundle_rows(f)

    class BundleFileDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "fhir_bundles"

        def schema(self) -> str:
            return "resource string"

        def reader(self, schema) -> DataSourceReader:
            return _BundleReader(self.options)

        def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
            return _BundleStreamReader(self.options)

    spark.dataSource.register(BundleFileDataSource)
