"""As-of join — an operator Spark lacks natively (SURVEY.md §4.3-3).

Semantics (``direction="backward"``, the default): for each left row,
attach the single right row with the largest ``right_ts <= left_ts``
within the same ``on`` key (ties on ``right_ts`` broken by the largest
``tie_break``). ``direction="forward"`` mirrors it: the SMALLEST
``right_ts >= left_ts``, ties broken by the smallest ``tie_break``.
Inner flavor: left rows with no eligible right row are dropped.

Implementation is the canonical composition: equi-join on the key with
the range predicate as a residual, then one window to keep the latest
candidate per probe. Both steps are shuffle-partitioned on distributed
keys, so the plan scales horizontally; the window's partition key is
the probe's unique id, keeping per-partition state at O(candidates of
one probe).

Scale note: when the right side is dense per key (many events per
user), the candidate set multiplies. For 100 TB workloads, pre-bucket
both sides by (key, time-bucket) so each probe only joins its own and
the preceding bucket — same composition, bounded fan-out. The simple
form is below; the bucketed variant is a straightforward extension of
the same operator contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _check_direction(direction: str) -> None:
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
        )


def _check_asof_contract(
    left: DataFrame, right: DataFrame, on: str
) -> tuple[DataFrame, DataFrame]:
    """Shared contract for both as-of forms (round-1 advisor finding:
    the forms diverged on NULL keys — Window.partitionBy groups NULLs
    while the equi-join drops them — and overlapping column names
    produced ambiguous outputs).

    - non-key column names must be disjoint (rename before joining);
    - NULL join keys never match (SQL equi-join semantics), enforced
      identically in both forms by filtering them here."""
    overlap = (set(left.columns) & set(right.columns)) - {on}
    if overlap:
        raise ValueError(
            "asof join requires disjoint non-key column names; "
            f"rename overlapping columns first: {sorted(overlap)}"
        )
    return left.where(F.col(on).isNotNull()), right.where(F.col(on).isNotNull())


def _tolerance_interval(tolerance: str) -> "F.Column":
    """Parse a tolerance like '12 hours' / '3 days' into an interval
    column. Kept to literal `<n> <unit>` so both as-of forms and the
    DuckDB oracle (`INTERVAL '<n>' <unit>`) agree exactly."""
    n, unit = tolerance.split()
    return F.expr(f"INTERVAL {int(n)} {unit.upper()}")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    probe_key: str,
    tie_break: str,
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join, candidate-join form. ``probe_key`` must uniquely
    identify left rows (it becomes the window partition key).
    O(probes x matching events) intermediate — prefer
    ``asof_join_sorted`` (same contract) when the right side is dense
    per key.

    ``tolerance`` (e.g. ``"12 hours"``) bounds staleness: a backward
    match must satisfy ``right_ts >= left_ts - tolerance`` (forward:
    ``right_ts <= left_ts + tolerance``); probes whose nearest match
    falls outside the bound are dropped (inner flavor), the
    feature-store join contract. As a bonus it also bounds the
    candidate fan-out, which is exactly the pre-bucketing scale note
    above realized as a predicate."""
    _check_direction(direction)
    left, right = _check_asof_contract(left, right, on)
    if direction == "backward":
        cond = right[right_ts] <= left[left_ts]
        if tolerance is not None:
            cond &= right[right_ts] >= left[left_ts] - _tolerance_interval(tolerance)
        order = [F.col(right_ts).desc(), F.col(tie_break).desc()]
    else:
        cond = right[right_ts] >= left[left_ts]
        if tolerance is not None:
            cond &= right[right_ts] <= left[left_ts] + _tolerance_interval(tolerance)
        order = [F.col(right_ts).asc(), F.col(tie_break).asc()]
    cand = left.join(right, (left[on] == right[on]) & cond).drop(right[on])
    w = Window.partitionBy(probe_key).orderBy(*order)
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join_sorted(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    probe_key: str,
    tie_break: str,
    direction: str = "backward",
    tolerance: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """As-of join, merge-sorted form (same contract as ``asof_join``,
    including ``tolerance`` — here enforced as a post-filter on the
    carried match's timestamp, preserving the one-shuffle plan).

    ``how="left"`` keeps every left row, with NULL right columns when
    no eligible match exists (out-of-tolerance carries are NULLIFIED
    rather than filtered). r12: this exists so a caller needing the
    unmatched probes (q_attribution's 'organic' bucket) reads them off
    the SAME single pass instead of re-deriving the whole pipeline
    under a left-anti join — matched and unmatched rows are by
    construction a partition of the left side. NULL-key LEFT rows are
    kept in left mode (they can never match — the semantics the inner
    flavor implements by filtering them — so they are unioned in after
    the merge with NULL right columns, never entering the window, where
    they would all share one NULL partition; NULL-key RIGHT rows stay
    filtered).

    Union both sides tagged by role, sort each key's rows by (ts,
    side, tie), and carry the last-seen right row forward with
    ``last(..., ignorenulls)`` over an unbounded-preceding row frame;
    left rows then read their answer off the carried struct.

    Why this is THE scale form: ONE shuffle (hash-partition on the
    key) + one per-key sort, intermediate size = |left| + |right| —
    the candidate-join form materializes |probe x all-earlier-events|
    pairs before its window prunes them, which explodes when the right
    side is dense per key. Sort order within a timestamp puts right
    rows (side 0) before left rows (side 1), so an event AT the probe
    time is eligible (<=); right rows at equal ts are ordered by
    ``tie_break`` ascending so the carried last = largest tie-break.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    null_left = left.where(F.col(on).isNull()) if how == "left" else None
    left, right = _check_asof_contract(left, right, on)
    lcols = left.columns
    rcols = right.columns
    payload = F.struct(*[F.col(c) for c in rcols if c != on])
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(tie_break).alias("__tie"),
        payload.alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[tie_break].dataType).alias("__tie"),
        F.lit(None).cast(r_tagged.schema["__payload"].dataType).alias("__payload"),
        *[F.col(c) for c in lcols],
    )
    if direction == "backward":
        w = (
            Window.partitionBy("__k")
            .orderBy(F.col("__ts").asc(), F.col("__side").asc(), F.col("__tie").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = F.last("__payload", ignorenulls=True).over(w)
    else:
        # Forward = backward over REVERSED sort order, so the frame is
        # still the O(n) running frame (unboundedPreceding..currentRow,
        # incrementally maintained). The naive rendering — first() over
        # currentRow..unboundedFollowing — is recomputed from scratch
        # per row by Spark (UnboundedFollowingWindowFunctionFrame),
        # O(n^2) per key: 68 s vs 1.1 s for the backward twin at sf1.
        # Scanning ts DESCENDING, the last-seen right row is the
        # smallest ts >= probe ts; right rows sort before probes at
        # equal ts (side asc) so an event AT the probe time is
        # eligible, and equal-ts right rows sort by tie_break DESC so
        # the carried last = smallest tie-break.
        w = (
            Window.partitionBy("__k")
            .orderBy(F.col("__ts").desc(), F.col("__side").asc(), F.col("__tie").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = F.last("__payload", ignorenulls=True).over(w)
    merged = (
        r_tagged.unionByName(l_tagged)
        .withColumn("__carried", carried)
        .where(F.col("__side") == 1)
    )
    if how == "inner":
        merged = merged.where(F.col("__carried").isNotNull())
    if tolerance is not None:
        tol = _tolerance_interval(tolerance)
        match_ts = F.col(f"__carried.{right_ts}")
        in_tol = (
            match_ts >= F.col(left_ts) - tol
            if direction == "backward"
            else match_ts <= F.col(left_ts) + tol
        )
        if how == "inner":
            merged = merged.where(in_tol)
        else:
            merged = merged.withColumn(
                "__carried",
                F.when(in_tol, F.col("__carried")),
            )
    out_cols = [F.col(c) for c in lcols] + [
        F.col(f"__carried.{c}").alias(c) for c in rcols if c != on
    ]
    out = merged.select(*out_cols)
    if null_left is None:
        return out
    return out.unionByName(
        null_left.select(
            *lcols,
            *[F.lit(None).cast(right.schema[c].dataType).alias(c)
              for c in rcols if c != on],
        )
    )
