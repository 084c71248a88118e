"""Binned interval join: the shuffle-path range join.

A point-in-interval join is a theta join; Spark's only native plans for
it are broadcast-nested-loop (fine when one side is tiny — see
q19_theta_join_ranges) or a cartesian product (never fine). When BOTH
sides are large, the scalable plan is binning: quantize the domain into
fixed-width bins, replicate each interval into every bin it overlaps,
put each point in its single bin, equi-join on the bin id, and re-check
the exact predicate. The shuffle is a plain hash exchange on the bin
key — sized by ``bin_width``, which bounds interval replication (an
interval spanning k bins is sent k times; pick bin_width ≈ median
interval length). Each point lives in exactly one bin, so no
deduplication step is needed. This is the same strategy Databricks'
range-join optimization and KDB-style window joins use, expressed as
ordinary DataFrame ops so Catalyst/AQE still handle skew + coalescing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def binned_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    *,
    bin_width: float,
    how: str = "inner",
    max_bins_per_interval: int = 10_000,
) -> DataFrame:
    """Join each point row to every interval row with
    ``start <= point < end`` via a bin equi-join.

    ``max_bins_per_interval`` guards against an unbounded interval
    exploding into millions of bin copies (raises at plan build time
    when a static bound is violated at runtime the sequence() itself
    errors) — at scale, clamp open-ended intervals before joining.
    Only ``inner`` and ``left`` (points-preserving) joins are supported.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"unsupported join type: {how!r}")
    w = float(bin_width)
    p = points.withColumn("__bin", F.floor(F.col(point_col) / w))
    first_bin = F.floor(F.col(start_col) / w)
    last_bin = F.floor(F.col(end_col) / w)
    # the guard is the sequence's upper bound, so it cannot be pruned
    guarded_last = F.when(
        last_bin - first_bin + 1 > max_bins_per_interval,
        F.raise_error(
            F.lit(
                f"interval spans more than {max_bins_per_interval} bins; "
                "raise bin_width or clamp open-ended intervals"
            )
        ).cast("long"),
    ).otherwise(last_bin)
    iv = intervals.withColumn("__bin", F.explode(F.sequence(first_bin, guarded_last)))
    on = (
        (p["__bin"] == iv["__bin"])
        & (p[point_col] >= iv[start_col])
        & (p[point_col] < iv[end_col])
    )
    joined = p.join(iv, on, how)
    return joined.drop(p["__bin"]).drop(iv["__bin"])
