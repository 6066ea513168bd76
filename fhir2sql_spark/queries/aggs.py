"""Aggregation suite (SURVEY.md §2.3 q_agg_*).

The reference's only aggregate is a pushed-down COUNT(*)
(/root/reference/src/main.rs:141-148, 290-292); this module declares
the full hash-agg surface on top of it. All double measures go through
DECIMAL(18,s) *before* summation (exact in Spark and DuckDB, immune to
float summation order — the oracle hash depends on it). Ratios are
computed as exact-decimal-sum -> double -> IEEE divide, which is
bit-identical across engines.

Scale notes: groupBy aggregations here are partial-aggregated map-side
by Catalyst (HashAggregate -> Exchange -> HashAggregate), so the
shuffle carries one row per (partition x group), not per input row —
the pattern that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fhir2sql_spark.registry import query
from fhir2sql_spark.sources.arrow_rows import arrow_frame
from fhir2sql_spark.tables import load
from fhir2sql_spark.queries.util import dec, exact_div


@query(
    "q_agg_basic",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — scan + filter + multi-measure decimal hash-agg.

    This is the flagship query (`entry(spark)` runs it at sf0.001).
    """
    l = load(spark, sf_dir, "lineitem")
    qty = dec("l_quantity")
    price = dec("l_extendedprice")
    disc_price = price * (F.lit(1) - dec("l_discount"))
    return (
        l.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("decimal(18,4)").cast("double").alias("sum_qty"),
            F.sum(price).cast("decimal(18,4)").cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("decimal(18,4)").cast("double").alias("sum_disc_price"),
            exact_div(F.sum(qty), F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate — Catalyst expands to a two-phase agg
    (Expand + partial agg), distributing the distinct-set memory."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_agg_approx",
    oracle="""
    SELECT COUNT(DISTINCT o_custkey) AS exact_custs, TRUE AS within_tol
    FROM orders
    """,
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the constant-memory
    distinct path that replaces exact COUNT(DISTINCT) at 100 TB.
    Sketches merge associatively, so this is one shuffle of fixed-size
    state regardless of cardinality.

    DuckDB cannot reproduce Spark's HLL++ sketch bit-for-bit, so the
    oracled contract is the sketch's accuracy guarantee: the estimate
    must land within 5x the configured rsd (2%) of the exact count
    (far looser than the ~3*rsd tail bound, so deterministically true
    on this data), which the oracle asserts as a constant TRUE.

    r12 (guide §2.3, measured from the committed plan): mixing the
    sketch with COUNT(DISTINCT) in ONE agg makes Catalyst's distinct
    rewrite group by o_custkey first — so the partial aggregate built
    a 410-word HLL buffer PER DISTINCT KEY and the exchange carried
    411 columns (~3.3 KB x |distinct keys|, sketch-per-key is also
    exactly what breaks the operator's constant-memory argument at
    100 TB). Split into two keyless aggregates, the sketch merges
    map-side (one 410-word buffer per partition crosses) and the
    exact count shuffles bare 8-byte keys; the 1-row results
    broadcast-join. Result-identical: HLL insert/merge is a
    commutative-idempotent max per bucket, so the merged sketch —
    and the estimate — is a function of the key SET only."""
    o = load(spark, sf_dir, "orders")
    ex = o.agg(F.countDistinct("o_custkey").alias("exact_custs"))
    ac = o.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("__approx")
    )
    exact = F.col("exact_custs")
    return ex.crossJoin(F.broadcast(ac)).select(
        "exact_custs",
        (
            F.abs(F.col("__approx").cast("double") - exact.cast("double"))
            <= 0.10 * exact.cast("double")
        ).alias("within_tol"),
    )


@query(
    "q_agg_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping flags (Expand-based, single pass)."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("v_orders_sets")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM v_orders_sets
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region -> nation rollup over a dimension join. nation/region are
    broadcast (tiny dims) so the only shuffle is the final agg."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count(F.lit(1)).alias("n_custs"),
        F.sum(dec("c_acctbal", 2)).cast("double").alias("sum_bal"),
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — filter sits above the agg in
    the plan; Catalyst cannot push it down, by design."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .where(F.col("n_items") > 100)
    )


@query(
    "q_agg_hll_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_custs,
           TRUE AS group_within_tol,
           TRUE AS merged_within_tol
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting — the 100 TB rollup pattern:
    build an HLL sketch per group (hll_sketch_agg, one partial+final
    pass), then MERGE the per-group sketches with hll_union_agg to
    estimate the global distinct without ever re-reading the input.
    This is how pre-aggregated shard/day rollups compose upward; a
    COUNT(DISTINCT) can't merge, a sketch can. Each group estimate and
    the merged estimate must land within 5% of its exact twin
    (lgConfigK=12 => ~1.6% rsd, so deterministically true here); the
    oracle asserts the tolerance flags as constant TRUE, making the
    probabilistic path exactly hash-checkable."""
    o = load(spark, sf_dir, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_custs"),
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    global_exact = o.agg(F.countDistinct("o_custkey").alias("global_exact"))
    return (
        per_group.select(
            "o_orderpriority",
            "exact_custs",
            (
                F.abs(
                    F.hll_sketch_estimate("sk").cast("double")
                    - F.col("exact_custs").cast("double")
                )
                <= 0.05 * F.col("exact_custs").cast("double")
            ).alias("group_within_tol"),
        )
        .crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(global_exact))
        .select(
            "o_orderpriority",
            "exact_custs",
            "group_within_tol",
            (
                F.abs(
                    F.col("merged_est").cast("double")
                    - F.col("global_exact").cast("double")
                )
                <= 0.05 * F.col("global_exact").cast("double")
            ).alias("merged_within_tol"),
        )
    )


@query(
    "q_agg_kmv_jaccard",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    a AS (SELECT user_id FROM u WHERE user_id % 2 = 0 OR user_id % 3 = 0),
    b AS (SELECT user_id FROM u WHERE user_id % 2 = 0 OR user_id % 5 = 0)
    SELECT (SELECT COUNT(*) FROM a) AS n_a,
           (SELECT COUNT(*) FROM b) AS n_b,
           (SELECT COUNT(*) FROM a WHERE user_id IN (SELECT user_id FROM b))
             AS n_intersect,
           TRUE AS est_a_ok, TRUE AS est_b_ok,
           TRUE AS intersect_ok, TRUE AS jaccard_ok
    """,
)
def q_agg_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation sketches (round 3) — the third member of the
    mergeable-sketch family: HLL counts distinct (q_agg_hll_merge),
    count-min counts occurrences (q_tokens_cms), KMV estimates
    INTERSECTION/Jaccard between key sets (audience overlap) — the
    set operation HLL sketches cannot answer. Two 64-value sketches
    (operators/kmv.py, TakeOrderedAndProject per-partition heads — the
    corpus never funnels through one task) are compared element-wise;
    measured error on the fixtures is ~5 % (sub-k sets degrade to
    exact).

    Verified in the q_agg_hll_merge/q_tokens_cms pattern: exact
    counts are oracled directly; the estimates' tolerance outcomes
    (25 % distinct / 35 % intersection / 0.25 absolute Jaccard — wide
    multiples of the observed error) are DETERMINISTIC for given data
    because xxhash64 is fixed, and are emitted as constant-TRUE flags
    the oracle hash-checks; tests/test_round3_ops.py asserts the
    tighter measured bounds."""
    from fhir2sql_spark.operators.kmv import (
        kmv_estimates_from_values,
        kmv_sketch_single,
    )

    from fhir2sql_spark.operators.reuse import materialize_serialized

    # r11: the distinct-user spine feeds the consumers below and was
    # re-deriving the corpus-sized distinct exchange per consumer —
    # materialize it once, serialized (it is user-dimension-sized,
    # unbounded at 100 TB, so never a deserialized heap pin)
    users = materialize_serialized(
        load(spark, sf_dir, "events").select("user_id").distinct()
    )
    ca = (F.pmod("user_id", F.lit(2)) == 0) | (F.pmod("user_id", F.lit(3)) == 0)
    cb = (F.pmod("user_id", F.lit(2)) == 0) | (F.pmod("user_id", F.lit(5)) == 0)
    a = users.where(ca)
    b = users.where(cb)
    # r11 second block: a and b are FILTERS of the same distinct spine,
    # so |a|, |b| and |a ∩ b| are three conditional counts of ONE pass
    # over the pin — previously two count() jobs plus a full
    # INTERSECT (two exchanges + a third job). Exact-equivalent
    # because users is distinct by construction.
    cnt = users.agg(
        F.coalesce(F.sum(F.when(ca, 1)), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum(F.when(cb, 1)), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(ca & cb, 1)), F.lit(0)).cast("long").alias("n_i"),
    ).collect()[0]
    n_a, n_b, n_i = cnt.n_a, cnt.n_b, cnt.n_i
    k = 64
    # The sketches are TakeOrderedAndProject plans (per-partition
    # k-heads merged on the driver): collecting them IS the sketch
    # build — the eager checkpoints + per-estimate aggregates +
    # union/membership jobs they used to feed (~7 driver actions over
    # <= 64-row frames) collapse into bounded-collect driver math with
    # the identical IEEE formula (operators/kmv.py
    # kmv_estimates_from_values; parity pinned in test_round3_ops.py).
    ha = [r.h for r in kmv_sketch_single(a, "user_id", k).collect()]
    hb = [r.h for r in kmv_sketch_single(b, "user_id", k).collect()]
    est_a, est_b, jac_est, inter_est = kmv_estimates_from_values(ha, hb, k)
    # Empty-input guards: on an empty events table the union denominator
    # is 0 (Jaccard defined as 0); the intersection tolerance is
    # absolute-or-relative so the n_i == 0 case doesn't degenerate to
    # an exact-zero requirement.
    denom = float(n_a + n_b - n_i)
    jac_exact = (n_i / denom) if denom else 0.0
    row = [
        (
            n_a,
            n_b,
            n_i,
            abs(est_a - n_a) <= 0.25 * n_a,
            abs(est_b - n_b) <= 0.25 * n_b,
            abs(inter_est - n_i) <= max(0.35 * n_i, 1.0),
            abs(jac_est - jac_exact) <= 0.25,
        )
    ]
    return arrow_frame(
        spark,
        "n_a long, n_b long, n_intersect long, est_a_ok boolean, "
        "est_b_ok boolean, intersect_ok boolean, jaccard_ok boolean",
        [list(zip(*row))],
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the irregular-lattice form rollup and
    cube cannot express (here: the full pair, linestatus alone, and
    the grand total, SKIPPING the returnflag-alone set). Completes the
    grouping-lattice family next to q_agg_rollup / q_agg_cube.
    Spark 4's DataFrame.groupingSets plans a single Expand + one
    aggregate exchange, identical shape to rollup/cube — n_sets copies
    of the (tiny, post-combine) group rows, never of the input."""
    li = load(spark, sf_dir, "lineitem")
    rf, ls = F.col("l_returnflag"), F.col("l_linestatus")
    return li.groupingSets([[rf, ls], [ls], []], rf, ls).agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )
