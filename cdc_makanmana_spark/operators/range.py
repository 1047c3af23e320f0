"""Interval-containment (range) join via time-binning.

Spark has no range-join optimization: ``points JOIN intervals ON t >=
start AND t < end`` has no equi-key, so Catalyst can only plan a
BroadcastNestedLoopJoin — O(|points| × |intervals|) compares at any
scale (and this engine's plan tests ban that shape outright). The
standard fix is BINNING: explode each interval into the fixed-width
time bins it covers, map each point to its single bin, hash-join on
(keys..., bin), then apply the exact range predicate to discard the
bin-edge false candidates.

Cost model: the equi-join replaces the cross product; the price is the
interval explode factor ceil(span / bin_width) + 1. Pick ``bin_width``
near the TYPICAL interval span — bins much smaller than spans inflate
the exploded build side, much larger bins inflate false candidates per
bin. Both sides shuffle on (keys, bin): co-partitioned, skew-splittable
by AQE, linear in data size.

Reference analogue: none (the reference has no temporal joins); this is
the generic form of the radius query's bounding-box trick
(operators/radius.py) applied to time instead of space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    keys: list[str] | None = None,
    bin_width_s: int = 1800,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    ``start <= point_ts < end`` (end exclusive), matching on ``keys``
    equality first when given. Returns points columns + intervals
    columns (minus the internal bin).

    ``how``: "inner" (only contained points) or "left" (keep
    uncontained points with NULL interval columns).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"interval_join supports inner/left, got {how!r}")
    for internal in ("__bin", "__pid"):
        if internal in points.columns or internal in intervals.columns:
            raise ValueError(f"column name {internal!r} is reserved by interval_join")
    keys = keys or []
    bw_us = bin_width_s * 1_000_000

    ivl = intervals.filter(F.col(end_col) > F.col(start_col))
    ibins = ivl.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / bw_us),
                # last bin containing any t < end: floor((end - 1µs)/bw)
                F.floor((F.unix_micros(F.col(end_col)) - 1) / bw_us),
            )
        ),
    )
    contained = (F.col(start_col) <= F.col(point_ts)) & (
        F.col(point_ts) < F.col(end_col)
    )
    if how == "inner":
        p = points.withColumn(
            "__bin", F.floor(F.unix_micros(F.col(point_ts)) / bw_us)
        )
        return p.join(ibins, [*keys, "__bin"]).filter(contained).drop("__bin")
    # left: inner-match first (a point matches via exactly one bin per
    # interval — its own — so no dedupe is needed), then add back the
    # unmatched points via anti-join. The anti-join keys on a per-row id,
    # NOT on the point columns: plain column equality never matches NULLs
    # to themselves, so a matched point carrying a NULL attribute would
    # be re-emitted as unmatched, and identical duplicate point rows
    # would be collapsed to one fate. monotonically_increasing_id is
    # NON-deterministic across plan re-evaluations (partition-order
    # dependent), and `matched`/`unmatched` are two separate evaluations
    # of this subplan — so the id-tagged points are MATERIALIZED once
    # (lineage cut) and both branches read the same stored rows; without
    # this, an upstream shuffle with unstable intra-partition order
    # silently duplicates or drops points.
    from cdc_makanmana_spark.operators.dedup import materialize

    p = materialize(
        points.withColumn("__pid", F.monotonically_increasing_id())
    ).withColumn("__bin", F.floor(F.unix_micros(F.col(point_ts)) / bw_us))
    matched = p.join(ibins, [*keys, "__bin"]).filter(contained).drop("__bin")
    unmatched = p.drop("__bin").join(matched.select("__pid"), "__pid", "left_anti")
    for c in ivl.columns:
        if c not in points.columns:
            unmatched = unmatched.withColumn(c, F.lit(None).cast(dict(ivl.dtypes)[c]))
    return matched.unionByName(unmatched).drop("__pid")
