"""Exact-arithmetic statistical aggregates: correlation and simple
linear regression.

Spark's built-in ``corr``/``covar``/``regr_*`` accumulate doubles, so
the last ulps depend on partition/merge order — two runs of the same
query can differ, and no external engine reproduces them bit-for-bit.
Here the five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are
accumulated EXACTLY: inputs are scaled to integer units (``round(x *
10^scale)``) and summed as DECIMAL(38,0), which is order-independent.
The final Pearson r / OLS slope / intercept are then pure scalar double
arithmetic over those exact sums — deterministic on any engine, any
partitioning, any rerun.

One map-side-combinable aggregation pass; the scaled products stay well
inside DECIMAL(38) head-room (x,y up to ~1e9 in scaled units and 1e12
rows before overflow). NULL pairs are dropped (SQL corr semantics).

Extension inventory (SURVEY §2.11): the reference computes similarity
scores, never regression; this is the data-profiling/monitoring
counterpart of the sketches module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# persist=True rank/AUC frames go through the one operator cache
# registry: ``stats.release_caches`` IS ``dedup.release_caches``
from aroa_etl_spark.operators.dedup import _barrier, release_caches

__all__ = [
    "exact_linear_stats",
    "exact_global_rank",
    "exact_grouped_rank",
    "exact_weighted_median",
    "release_caches",
]


def exact_linear_stats(
    df: DataFrame, x_col: str, y_col: str, scale: int = 2, out_decimals: int = 9
) -> DataFrame:
    """Single-row frame: n, Pearson ``corr``, OLS ``slope`` /
    ``intercept`` (y on x), each rounded to ``out_decimals``; inputs
    fixed-pointed at ``10^scale`` units before exact summation."""
    mult = 10 ** scale
    pair = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        F.round(F.col(x_col) * mult).cast("decimal(38,0)").alias("xi"),
        F.round(F.col(y_col) * mult).cast("decimal(38,0)").alias("yi"),
    )
    sums = pair.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
        F.sum(F.col("yi") * F.col("yi")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy  # n^2 * covariance, in scaled units
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return sums.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(cov_n / F.sqrt(var_x * var_y), out_decimals).alias("corr"),
        F.round(slope, out_decimals).alias("slope"),
        F.round((sy - slope * sx) / n / F.lit(float(mult)), out_decimals).alias(
            "intercept"
        ),
    )


def exact_global_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    *,
    rank_col: str = "global_rank",
    n_bands: int = 32,
    bounds: "list | None" = None,
    persist: bool = False,
) -> DataFrame:
    """EXACT global rank (row_number over a total order) WITHOUT a
    single-partition sort — the scale-safe replacement for
    ``row_number() OVER (ORDER BY …)`` on a fact table.

    Decomposition: approx_percentile boundaries split the value domain
    into ``n_bands`` ranges; every row's band is a PURE FUNCTION of its
    value (a literal-array comparison — deterministic, no sampled
    partitioner whose boundaries could differ between plan subtrees),
    so equal values always share a band and the (value, tiebreak)
    total order never straddles a band except between distinct values.
    Within-band row_number is a PARTITIONED window; band sizes are an
    n_bands-row dim whose cumulative offsets broadcast back.
    global_rank = offset + within-band rank, identical to the global
    window at any partitioning.  The sizes aggregation and the
    windowed frame each scan the input once — pass ``persist=True``
    when the upstream is expensive, or precomputed ``bounds`` to skip
    the percentile probe (callers can fold it into their own scalar
    aggregate).  CACHE OWNERSHIP: with ``persist=True`` the staged
    frame is registered in the operator cache registry — call
    :func:`release_caches` once the result is materialized (this
    function cannot unpersist eagerly because the returned frame is
    lazy; bench/mirror harnesses release between reps).  Skew note: boundaries are
    approximate, so a band can be fat (heavy duplicate values) — rank
    correctness is unaffected; re-band with higher n_bands if a fat
    band's sort dominates.  All input columns carried through."""
    from pyspark.sql.window import Window as W

    if persist:
        # persist BEFORE the percentile probe, so the probe itself
        # materializes the cache: probing the unpersisted input first
        # re-ran the expensive upstream a second time before the sizes
        # aggregation ever hit the cache — measured 2×2.5 s of
        # classifier scoring inside eval_classifier_auc at sf0.1 (cache
        # only what is reused, but DO let every scan reuse it)
        df = _barrier(df)
    if bounds is None:
        bounds = df.select(
            F.percentile_approx(
                value_col, [i / n_bands for i in range(1, n_bands)], 10_000
            ).alias("b")
        ).first()["b"]
    # empty input / all-null value column: percentile returns NULL —
    # fall through with zero boundaries (single band, zero rows out)
    bounds = bounds or []
    # plain nested comparisons, NOT a higher-order aggregate lambda:
    # a LambdaFunction inside a grouping key trips Catalyst attribute
    # binding downstream of the window+join (INTERNAL_ERROR observed
    # on Spark 4.1 with parquet-backed input)
    band = F.lit(0)
    for b in bounds:
        band = band + F.when(F.col(value_col) > F.lit(b), 1).otherwise(0)
    # NOT persisted itself: the cache (when persist=True) lives on the
    # input frame above, and the band column is a cheap comparison
    # chain recomputed over cached rows by each downstream scan
    staged = df.withColumn("__band", band)
    within = F.row_number().over(
        W.partitionBy("__band").orderBy(value_col, tiebreak_col)
    )
    sizes = staged.groupBy("__band").agg(F.count(F.lit(1)).alias("__n"))
    offsets = sizes.select(
        "__band",
        F.coalesce(
            F.sum("__n").over(
                W.orderBy("__band").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    return (
        staged.withColumn("__rn", within)
        .join(F.broadcast(offsets), "__band")
        .withColumn(rank_col, (F.col("__off") + F.col("__rn")).cast("bigint"))
        .drop("__band", "__rn", "__off")
    )


def exact_grouped_rank(
    df: DataFrame,
    group_cols: "list[str] | str",
    value_col: str,
    tiebreak_col: str,
    *,
    rank_col: str = "rank",
    n_bands: int = 32,
    descending: bool = False,
    persist: bool = False,
) -> DataFrame:
    """EXACT per-group rank (row_number over a total order WITHIN each
    group) without any group-sized sort task — the grouped
    generalization of :func:`exact_global_rank` (plain
    `row_number() OVER (PARTITION BY month ORDER BY …)` puts every
    customer of a month in ONE window partition; at extreme scale that
    is one fat sort task per month).

    Decomposition: ONE global percentile probe on the value column
    splits its domain into ``n_bands`` ranges shared by all groups
    (per-group bounds would need a per-group probe for no correctness
    gain — band boundaries only need to respect the value order, which
    global bounds do for every group).  The within window partitions
    by (group, band) — each task sorts ~1/n_bands of a group — and the
    band-size dim is #groups × n_bands rows whose per-group cumulative
    offsets broadcast back.  rank = group-local offset + within-band
    row_number, identical to the per-group window at any partitioning.
    ``descending=True`` ranks highest value first (tiebreak stays
    ascending), matching the ``ORDER BY v DESC, tb`` leaderboard idiom —
    implemented by REVERSING the band comparison and the window order
    (not by negating the value, which breaks on strings/timestamps and
    under ANSI mode), so it works for any orderable column type.
    NULL values band to 0 and order first in BOTH directions (the
    band assignment must agree with the window order; callers wanting
    SQL's nulls-last-on-DESC should filter or coalesce first).
    Skew note: global bounds mean a group whose values concentrate in
    one band degrades to the plain grouped window for that group —
    correctness unaffected, and re-banding with higher n_bands splits
    it.  All input columns carried through; same cache-ownership
    contract as exact_global_rank for ``persist=True``."""
    from pyspark.sql.window import Window as W

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if persist:
        # same probe-order fix as exact_global_rank: cache the input
        # BEFORE the percentile probe so the probe materializes it and
        # the sizes + window scans reuse it (three upstream runs -> one)
        df = _barrier(df)
    srg = _order_surrogate(df, value_col)
    staged0 = df.withColumn("__srg", srg)
    bounds = staged0.select(
        F.percentile_approx(
            "__srg", [i / n_bands for i in range(1, n_bands)], 10_000
        ).alias("b")
    ).first()["b"] or []
    # band index must be non-decreasing along the sort order; for
    # descending that means counting bounds ABOVE the value (high value
    # -> low band), with the tie side flipped so equal-to-bound values
    # agree with the window order in both directions.  The band is a
    # pure function of the ORDER SURROGATE (monotone in the value), so
    # equal values always share a band and surrogate ties across
    # distinct values merely share a (fatter) band — the within-band
    # window still orders by the real value, so ranks stay exact.
    # NULL comparisons yield NULL -> otherwise(0): nulls band to 0,
    # matching asc-nulls-first / desc_nulls_first below.
    band = F.lit(0)
    for b in bounds:
        cmp = (
            F.col("__srg") < F.lit(b) if descending else F.col("__srg") > F.lit(b)
        )
        band = band + F.when(cmp, 1).otherwise(0)
    staged = staged0.withColumn("__band", band)
    order_key = (
        F.col(value_col).desc_nulls_first()
        if descending
        else F.col(value_col).asc()
    )
    within = F.row_number().over(
        W.partitionBy(*groups, "__band").orderBy(order_key, tiebreak_col)
    )
    sizes = staged.groupBy(*groups, "__band").agg(F.count(F.lit(1)).alias("__n"))
    offsets = sizes.select(
        *groups,
        "__band",
        F.coalesce(
            F.sum("__n").over(
                W.partitionBy(*groups)
                .orderBy("__band")
                .rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    return (
        staged.withColumn("__rn", within)
        .join(F.broadcast(offsets), [*groups, "__band"])
        .withColumn(rank_col, (F.col("__off") + F.col("__rn")).cast("bigint"))
        .drop("__band", "__rn", "__off", "__srg")
    )


def _order_surrogate(df: DataFrame, value_col: str):
    """A DOUBLE expression monotone non-decreasing in ``value_col``'s
    sort order, for the percentile band probe (percentile_approx is
    numeric-only; negating the value for descending — the old approach
    — breaks on strings/timestamps and under ANSI mode).  Monotone is
    all banding needs: surrogate ties across distinct values only
    fatten a band, never reorder one.  Cast-to-double rounding is
    monotone, so precision loss is harmless.  Strings/binary map to
    their first 8 bytes as a big-endian integer (Spark's default
    UTF8_BINARY collation compares bytewise, so the prefix integer is
    order-consistent).  Unknown orderable types fall back to a single
    band — still exact, just a plain grouped window for that column."""
    from pyspark.sql.types import (
        BinaryType, BooleanType, DateType, NumericType, StringType,
        TimestampNTZType, TimestampType,
    )

    dt = df.schema[value_col].dataType
    c = F.col(value_col)
    if isinstance(dt, (NumericType, BooleanType)):
        return c.cast("double")
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return c.cast("double")  # epoch seconds, order-preserving
    if isinstance(dt, DateType):
        return c.cast("timestamp").cast("double")
    if isinstance(dt, (StringType, BinaryType)):
        raw = F.encode(c, "UTF-8") if isinstance(dt, StringType) else c
        # zero-pad the tail (concat then take 8) so a short string and
        # its extensions stay order-consistent; conv() parses the
        # 16-hex-digit prefix as an unsigned 64-bit integer
        return F.conv(
            F.hex(F.substring(F.concat(raw, F.lit(b"\x00" * 8)), 1, 8)), 16, 10
        ).cast("double")
    return F.lit(0.0)


def exact_weighted_median(
    df: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v such
    that the total weight of rows with value <= v is at least half the
    group's weight (2·cumw >= total in integer cross-multiplication —
    no halving, no floats).

    The classic estimator for 'typical' under skewed weights (median
    price weighted by quantity, median doc length weighted by token
    count) where a plain median over rows misweights bulk rows.

    Determinism: weights first aggregate per (group, value), so the
    cumulative sum runs over UNIQUE values per group — tie weights
    collapse before the window and the result is independent of row
    order and partitioning. Inputs must be integers (cast money to
    cents first): integer sums are order-free, and the threshold
    compare is exact.

    Plan: one (group, value) groupBy, then a cumulative-sum window
    PARTITIONED BY the group (keyed, never global), then a min-filter
    aggregate. Output: group cols + weighted_median + total_weight."""
    from pyspark.sql.window import Window as W

    per_value = df.groupBy(
        *group_cols, F.col(value_col).alias("__v")
    ).agg(F.sum(F.col(weight_col).cast("long")).alias("__w"))
    win = (
        W.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = W.partitionBy(*group_cols)
    cum = per_value.withColumn("__cum", F.sum("__w").over(win)).withColumn(
        "__tot", F.sum("__w").over(tot)
    )
    return (
        cum.filter(2 * F.col("__cum") >= F.col("__tot"))
        .groupBy(*group_cols)
        .agg(
            F.min("__v").alias("weighted_median"),
            F.first("__tot").alias("total_weight"),
        )
    )
