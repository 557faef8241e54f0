"""Binned range join — the scalable non-equi interval join.

SURVEY §2.3 names range joins as engine surface with no direct
reference instance; the reference's closest analog is per-run
event-log correlation by time containment (picoprobe/flow_analyzer.py
:174-196 fetches a run's log and keeps entries inside the run span).
Naively, ``points ⋈ intervals ON start <= ts AND ts <= end`` has no
equi key, so Spark plans a BroadcastNestedLoopJoin — quadratic the
moment neither side broadcasts.

The scale formulation here is the standard time-binning trick: pick a
``bin_width`` ≥ the maximum interval length, map each point to its bin
``ts div W``, and each interval to the (at most two, in general
``len/W + 1``) bins it overlaps — then the containment join becomes a
hash equi-join on the bin with the range predicate as a cheap residual
filter. Shuffle keys are time bins: high-cardinality, naturally
balanced for event data, and the join fan-out per bin is
|points-in-bin| × |intervals-touching-bin|, bounded by the bin width
choice instead of |points| × |intervals|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bin_range_join(points: DataFrame, intervals: DataFrame,
                   ts_col: str = "ts", start_col: str = "start",
                   end_col: str = "end",
                   bin_width: int = 3_600_000_000) -> DataFrame:
    """All (point, interval) pairs with start <= ts <= end, as a hash
    equi-join on the time bin plus a residual range filter.

    ``bin_width`` is in the same units as the timestamps (default one
    hour of exact µs, matching ``plans.common.events_us``). Intervals
    LONGER than one bin are exploded into every bin they overlap
    (``sequence`` over the bin range — the explosion factor is
    ceil(len/W)+1, which is why W should be >= the typical interval
    length); duplicates from multi-bin intervals cannot occur because
    each point lives in exactly one bin.

    Columns: every column of both inputs (prefix-free — callers
    disambiguate beforehand), join implemented as
    points.bin == interval_bins.bin.
    """
    p = points.withColumn("_bin", F.expr(f"{ts_col} div {bin_width}"))
    iv = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(F.expr(f"{start_col} div {bin_width}"),
                             F.expr(f"{end_col} div {bin_width}"))))
    joined = (p.join(iv, "_bin")
               .filter((F.col(ts_col) >= F.col(start_col))
                       & (F.col(ts_col) <= F.col(end_col))))
    return joined.drop("_bin")
