"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; every conf below is
also what we'd set on a real cluster (AQE, adaptive skew join,
partition coalescing). Nothing here is local-mode-only except the
master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set, else half of physical memory
    capped at 24g: the heap must leave room for the Python workers and
    the OS on a host smaller than 48 GB."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 24 * 1024)}m"


def get_spark(app_name: str = "fhir2sql-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle sizing: match local parallelism; on a 1000-executor
        # cluster this would be ~2-3x total cores (AQE coalesces down).
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start reduce stages fine-grained and let AQE coalesce down
        # (the production setting this file's docstring promises). With
        # initial = 32, sf100's q_sample_dsir put ~40 M (doc, bucket)
        # groups into ONE task's hash aggregate and died with
        # AGGREGATE_OUT_OF_MEMORY (r7); at 512 the same stage fits per
        # task and small stages still coalesce to a handful.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "512",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOT set: spark.sql.adaptive.coalescePartitions.parallelismFirst
        # =false (the docs-recommended production value). Measured r11:
        # full-suite A/B normalized 123 -> 173 s — collapsing small
        # shuffles to one advisory-sized task serializes the many
        # dependent-stage iterative queries (pagerank 6.1 -> 13.8 s,
        # triangles 1.8 -> 8.3 s, the *_inc dedup family +2-5 s each),
        # far outweighing the dispatch saved on wide flat aggregates
        # (bpe_encode -4.7 s, embed_sq -3.9 s). parallelismFirst=true
        # keeps post-shuffle parallelism ~ cores at every scale; it is
        # the right trade for a latency-bound suite, not a local-only
        # tune.
        # NOT set: spark.sql.join.preferSortMergeJoin=false (guide §9's
        # production suggestion). Measured r12 on the full suite
        # (same-session A/B, per-query host-normalized): geomean 0.964
        # — the TPC-H block got uniformly slightly slower (q3
        # 0.365->0.465 s, q7 0.432->0.548 s normalized); at this
        # fixture's join sizes the SHJ build allocation costs more
        # than the sort it removes, and at scale the unguarded build
        # side risks OOM where sort-merge spills. Revisit only with
        # maxShuffledHashJoinLocalMapThreshold sizing on a real
        # cluster.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow-batch even plain Python UDFs (Spark 4): cuts the
        # per-row pickle boundary of the q_udf_scalar-style slow path
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # Cached/persisted plans keep their pre-AQE output partitioning
        # by default, so a persist materializes at
        # initialPartitionNum (512) tiny partitions and every consumer
        # pays 512-task stages over byte-sized blocks (measured r11:
        # q_basket_pairs 65 s -> 4 s cold at sf0.1 on a
        # slow-scheduler host). Letting AQE re-plan cached output
        # partitioning is scale-neutral: at 100 TB the same frame
        # coalesces to advisory-sized partitions instead of a fixed
        # constant (guide 2.2 "fewer, larger reduce partitions").
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The codegen class cache defaults to 100 entries; a session
        # serving the full 230-query surface evicts constantly and
        # re-pays Janino compilation of wide generated methods (the
        # 64-aggregate SimHash stage measured ~2 s driver-side per
        # run). 10k entries of compiled classes is a few hundred MB
        # at worst and is the right trade for ANY long-lived session,
        # local or cluster. Static conf — must be set before the JVM
        # starts.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
