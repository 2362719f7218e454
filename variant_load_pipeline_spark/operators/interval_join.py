"""Interval-overlap joins (SURVEY.md §2.4 J1/J2/J15).

The reference does these with a per-chromosome in-memory linear scan over a
position-sorted gene list (GeneCache.java:53-98).  Spark-first redesign, two
physical strategies behind one API:

* ``broadcast`` — plain non-equi join with the small side broadcast.
  Catalyst plans BroadcastNestedLoopJoin (chrom equality + range predicates);
  fine when |intervals| is small but O(n·m/chroms) compares.
* ``binned`` — THE SCALE PATH: bucket positions into fixed-width bins,
  explode intervals across every bin they span, then EQUI-join on
  (chrom, bin) + exact range filter.  Each point has exactly one bin so no
  dedup is needed; work drops to O(n + m·span/bin + candidate pairs) and the
  join is a hash join that shuffles/broadcasts on a proper key — this is the
  plan that survives both sides growing 100×.

Bin size trades explode factor (interval side) against candidates-per-bin
(point side); 100 kb ≈ gene-scale intervals at single-digit explode factor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BIN = 100_000


def overlaps(
    p_start: Column, p_end: Column, i_start: Column, i_end: Column
) -> Column:
    """Closed-interval overlap: any shared position (GeneCache 3-clause test)."""
    return (p_start <= i_end) & (p_end >= i_start)


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_chrom: str = "chrom",
    point_pos: str = "pos",
    ivl_chrom: str = "chrom",
    ivl_start: str = "gstart",
    ivl_end: str = "gstop",
    how: str = "inner",
    strategy: str = "binned",
    bin_size: int = DEFAULT_BIN,
    broadcast_intervals: bool = True,
) -> DataFrame:
    """Join each point to every interval containing it.

    ``how`` supports inner/left_semi/left_anti/left.  ``strategy`` 'broadcast'
    or 'binned' (default; the 100TB-safe plan).
    """
    return interval_overlap_join(
        points.withColumn("__p_end", F.col(point_pos)),
        intervals,
        p_chrom=point_chrom,
        p_start=point_pos,
        p_end="__p_end",
        i_chrom=ivl_chrom,
        i_start=ivl_start,
        i_end=ivl_end,
        how=how,
        strategy=strategy,
        bin_size=bin_size,
        broadcast_intervals=broadcast_intervals,
        max_left_span=0,  # points: start == end, no pad scan needed
    ).drop("__p_end")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    p_chrom: str,
    p_start: str,
    p_end: str,
    i_chrom: str,
    i_start: str,
    i_end: str,
    how: str = "inner",
    strategy: str = "binned",
    bin_size: int = DEFAULT_BIN,
    broadcast_intervals: bool = True,
    max_left_span: int | None = None,
) -> DataFrame:
    """Generic [start,end] x [start,end] overlap join.

    For the binned strategy the LEFT side is binned by its START position and
    the RIGHT side is exploded over bins spanning
    ``[start - pad, end]`` where ``pad`` covers the widest left interval, so
    a left interval that STARTS up to ``max_left_span`` positions before a
    right interval is still a candidate.  Each left row has exactly one bin,
    so no post-join dedup is needed, and over-padding only adds candidates
    that the exact overlap filter discards — results are pad-invariant as
    long as pad >= max left span.

    ``max_left_span``: widest ``p_end - p_start`` on the left side.  Pass it
    when known (0 for point lefts); when None it is derived with one
    column-pruned max() aggregate over the left side — a map-side partial
    max, cheap relative to the join it protects, and the price of the join
    being EXACT for structural-variant-sized left intervals instead of
    silently dropping overlaps wider than one bin.
    """
    lcols = left.columns
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(f"unsupported how={how}")

    if strategy == "broadcast":
        cond = (
            (left[p_chrom] == right[i_chrom])
            & overlaps(left[p_start], left[p_end], right[i_start], right[i_end])
        )
        return left.join(F.broadcast(right), cond, how)

    if strategy != "binned":
        raise ValueError(f"unknown strategy={strategy}")

    # bin the left side by start position (one bin per row)
    lb = left.withColumn("__bin", F.floor(F.col(p_start) / bin_size))
    if max_left_span is None:
        row = left.select(
            F.max(F.col(p_end) - F.col(p_start)).alias("s")
        ).first()
        max_left_span = int(row["s"]) if row["s"] is not None else 0
    # a left interval overlapping [i_start, i_end] has
    # p_start >= i_start - max_left_span, so its start-bin is at least
    # floor(i_start/bin) - (max_left_span // bin + 1)
    pad_bins = max_left_span // bin_size + 1
    rb = right.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(i_start) / bin_size) - pad_bins,
                F.floor(F.col(i_end) / bin_size),
            )
        ),
    )
    # gene-model-sized interval sets stay broadcastable even after the
    # bin explode (|intervals| * span/bin rows); at that size the equi join
    # on (chrom, bin) becomes a BroadcastHashJoin and the big point side is
    # never shuffled.  Callers with huge interval sets pass False and get a
    # shuffle hash join on the same equi key — the plan that scales both ways.
    if broadcast_intervals:
        rb = F.broadcast(rb)
    cond = (
        (lb[p_chrom] == rb[i_chrom])
        & (lb["__bin"] == rb["__bin"])
        & overlaps(lb[p_start], lb[p_end], rb[i_start], rb[i_end])
    )
    joined = lb.join(rb, cond, how)
    if how in ("left_semi", "left_anti"):
        return joined.select(*lcols)
    # drop helper bins and the duplicated chrom column from the right
    return joined.drop("__bin")

