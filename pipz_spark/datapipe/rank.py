"""Distributed exact order statistics: global rank within groups
WITHOUT a per-group window sort.

``Window.partitionBy(group).orderBy(...)`` ships every row of a group
to ONE task — correct, and the standard skewed-key straggler once a
group is corpus-sized (one language = half a 100 TB corpus; AQE
cannot split window sorts). This module computes the identical ranks
with bounded tasks:

  1. range-partition the frame by (group_cols, order_cols) into an
     EXPLICIT partition count (user-numbered exchanges are exempt
     from AQE coalescing — DIVERGENCES #21); each partition holds a
     contiguous slice of every group's global order,
  2. per-(partition, group) counts — a tiny ≤ partitions × |groups|
     frame — prefix-summed into per-partition rank offsets and group
     totals, both broadcast back,
  3. a local row_number keyed by (partition, group): every window key
     is bounded by the range split size regardless of group skew,
  4. rank = offset + local row number.

The same two-phase shape as ``budget_cap``'s global cumsum, producing
order statistics instead of running sums. Correct under ANY range
boundary placement (boundaries affect balance, never ranks — the
ordering is total as long as ``order_cols`` ends in a tiebreaker that
makes rows distinct, e.g. a unique id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.caches import track


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    num_partitions: int | None = None,
    rank_col: str = "rank",
    count_col: str = "group_count",
) -> DataFrame:
    """``row_number() OVER (PARTITION BY group ORDER BY order)`` with
    bounded tasks. Returns ``df`` plus ``rank_col`` (1-based global
    rank within the row's group) and ``count_col`` (the group's row
    count — order statistics usually need n too: ntile, percentile,
    top-fraction cuts).

    ``order_cols`` are Column expressions (direction included, e.g.
    ``F.col("score").desc()``) and MUST total-order the frame within
    each group — end with a unique tiebreaker. The input is persisted
    (cache-tracked; ``release_caches()`` frees it) because the rank
    plan consumes the range exchange twice and partition ids must not
    be recomputed under different sampled boundaries.

    NULL group values form their own group (the groupBy / window /
    SQL-window convention) — the offset/total joins are NULL-SAFE
    equality on the group keys, because a plain equi-join would
    silently DROP every NULL-group row (NULL never equals NULL), the
    one silent-data-loss hazard in this plan shape.
    """
    if not group_cols or not order_cols:
        raise ValueError("grouped_rank needs group_cols and order_cols")
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    part = track(
        df.repartitionByRange(n_parts, *[F.col(g) for g in group_cols], *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = part.groupBy("_pid", *group_cols).agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        F.col("_pid").alias("_o_pid"),
        *[F.col(g).alias(f"_o_{g}") for g in group_cols],
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    totals = counts.groupBy(*group_cols).agg(F.sum("_c").alias(count_col))
    totals = totals.select(
        *[F.col(g).alias(f"_t_{g}") for g in group_cols], count_col
    )
    w_local = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    off_cond = F.col("_pid") == F.col("_o_pid")
    t_cond = F.lit(True)
    for g in group_cols:
        off_cond = off_cond & F.col(g).eqNullSafe(F.col(f"_o_{g}"))
        t_cond = t_cond & F.col(g).eqNullSafe(F.col(f"_t_{g}"))
    drop_cols = (
        ["_pid", "_r", "_off", "_o_pid"]
        + [f"_o_{g}" for g in group_cols]
        + [f"_t_{g}" for g in group_cols]
    )
    return (
        part.withColumn("_r", F.row_number().over(w_local))
        .join(F.broadcast(offsets), off_cond)
        .join(F.broadcast(totals), t_cond)
        .withColumn(rank_col, F.col("_off") + F.col("_r"))
        .drop(*drop_cols)
    )


def ntile_expr(rank: Column, n: Column, buckets: int) -> Column:
    """SQL-standard ``ntile(buckets)`` from (rank, group size): the
    first ``n mod buckets`` tiers take ⌈n/buckets⌉ rows, the rest
    ⌊n/buckets⌋. Closed form, so the tier assignment never needs a
    second pass. The divisions are guarded: q+1 ≥ 1 always, and the
    q-divisor branch is only reachable when q ≥ 1 (greatest() keeps
    the dead branch from tripping ANSI divide-by-zero in eager
    evaluation paths)."""
    if buckets <= 0:
        raise ValueError(f"need buckets > 0, got {buckets}")
    b = F.lit(buckets).cast("long")
    q = F.floor(n / b)
    r = n % b
    g = rank - 1
    return F.when(rank <= (q + 1) * r, F.floor(g / (q + 1)) + 1).otherwise(
        r + F.floor((g - (q + 1) * r) / F.greatest(q, F.lit(1))) + 1
    )


__all__ = ["grouped_rank", "ntile_expr"]
