"""Skew mitigation: salted joins and explicit skew diagnostics.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
every engine session) handles most skew at the sort-merge-join level by
splitting oversized partitions. Manual salting remains the tool when

- the skewed side feeds a *non-join* stateful op (window over a hot
  key), or
- the join is shuffled-hash where AQE splitting doesn't apply, or
- a single key is so hot that even a split partition's build side
  explodes.

The reference never handles skew (single-process pandas,
`/root/reference/pyopenetl/operations.py` throughout); this is part of
the engine's 100 TB surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew_stats(df: DataFrame, key: str | list[str], top: int = 10) -> DataFrame:
    """Per-key row counts for the heaviest keys plus their share of the
    table — the diagnostic that decides whether to salt. One shuffle on
    the key (partial counts map-side)."""
    keys = [key] if isinstance(key, str) else list(key)
    total = df.count()
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("share", F.col("n_rows") / F.lit(float(total)))
        .orderBy(F.col("n_rows").desc(), *keys)
        .limit(top)
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | list[str],
    *,
    how: str = "inner",
    salt: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Equi-join robust to hot keys on the ``skewed`` side.

    The skewed side gets a uniform salt in [0, salt); the other side is
    replicated ``salt`` times (explode of a literal range). The join key
    becomes (key, salt), splitting each hot key's rows across ``salt``
    tasks. Correctness does not depend on which salt a row draws — every
    (key, s) bucket sees the full matching ``other`` rows — so the
    non-deterministic `rand` is safe under task retries.

    Cost model: replicates ``other`` ``salt`` times through the shuffle —
    use when ``other`` is small-ish but above the broadcast threshold,
    or trim it to the hot keys first (salt only rows whose key is in
    `key_skew_stats`' head, union the rest through a plain join).

    Supported ``how``: inner / left (the skewed side's semantics are
    preserved; right/full would double-count the replicated side).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    salted_l = skewed.withColumn("__salt", F.floor(F.rand(seed) * salt).cast("int"))
    replicated = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
    )
    out = salted_l.join(replicated, keys + ["__salt"], how)
    return out.drop("__salt")


def salted_distinct_count(
    df: DataFrame, key: str | list[str], count_col: str, *, salt: int = 64
) -> DataFrame:
    """Two-stage COUNT(DISTINCT x) per key, skew-proof.

    Stage 1 shuffles on (key, hash(x) % salt) — hot keys spread over
    ``salt`` partial aggregations; stage 2 sums the partial distinct
    counts (exact: the hash partitions the distinct values). The classic
    rewrite Spark applies to multi-distinct plans, exposed as an
    operator for hot-key cases.
    """
    keys = [key] if isinstance(key, str) else list(key)
    bucket = F.pmod(F.xxhash64(F.col(count_col)), F.lit(salt)).alias("__b")
    partial = (
        df.select(*keys, F.col(count_col), bucket)
        .groupBy(*keys, "__b")
        .agg(F.count_distinct(F.col(count_col)).alias("__pd"))
    )
    return partial.groupBy(*keys).agg(F.sum("__pd").alias(f"n_distinct_{count_col}"))
