"""Relational Steps — native engine capabilities beyond the reference.

SURVEY §2.4: the reference has no group-by, windows, sorts, limits,
set ops, or general joins (joins exist only as the Enrich lookup
pattern, aggregation only as Concurrent's per-value reducer). An
analytics engine needs them natively, so they are first-class Steps
here, compiled to the corresponding Catalyst operators (hash
aggregate with map-side partial agg, sort-merge/broadcast joins,
window exec) — nothing hand-rolled.

Error-column semantics: operators compute from the happy path only.
Where the output schema still matches the input (distinct, set ops,
dedup), errored rows PASS THROUGH unchanged so upstream dead letters
reach the sink — fail-fast skips rows, it never deletes them.
Aggregations (group_agg, profile) genuinely change shape, so errored
rows cannot appear in their output — land the dead letter (Handle /
write_split) BEFORE aggregating. Row-preserving operators
(sort/limit/join) carry the error column through untouched.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence as Seq

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..core.caches import track
from ..core.errors import ERROR_COL, ensure_error_column, is_ok, null_error
from ..core.step import Step


def _ok_only(df: DataFrame) -> DataFrame:
    return ensure_error_column(df).where(is_ok()).drop(ERROR_COL)


def _split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ok, failed) halves, both still carrying the error column —
    the row-preserving fail-fast split used by every operator whose
    computation must neither SEE errored rows (frame/rank/set
    contamination) nor DROP them (dead-letter loss)."""
    df = ensure_error_column(df)
    return df.where(is_ok()), df.where(~is_ok())


def _other_ok(other: DataFrame) -> DataFrame:
    """Strip a pipeline error column off a set-op operand: a Step
    output carries _pipz_error, and feeding it raw into intersect/
    except raises NUM_COLUMNS_MISMATCH (r7 review finding). Only the
    operand's HAPPY rows participate — its dead letters belong to its
    own pipeline's sink, not to this one's values."""
    if ERROR_COL in other.columns:
        return other.where(is_ok()).drop(ERROR_COL)
    return other


def orderable(dt) -> bool:
    """True when the type can appear in a sort order / min-max
    aggregate (maps cannot; arrays/structs inherit from elements)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(orderable(f.dataType) for f in dt.fields)
    return True


def group_agg(
    name: str,
    keys: Seq[str | Column],
    aggs: Mapping[str, Column],
    mode: str = "group",
) -> Step:
    """Hash aggregation: ``groupBy|cube|rollup(keys).agg(...)``.

    Catalyst plans partial (map-side) aggregation before the shuffle
    automatically, so only the per-key partials cross the wire — the
    correct 100 TB shape. Every output is aliased to its dict key so
    results stay oracle-comparable. ``mode`` picks plain grouping,
    ``cube`` (all key combinations) or ``rollup`` (hierarchical
    prefixes)."""
    if mode not in ("group", "cube", "rollup"):
        raise ValueError("mode must be 'group', 'cube' or 'rollup'")

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok = _ok_only(df)
        grouped = (
            ok.cube(*keys)
            if mode == "cube"
            else ok.rollup(*keys) if mode == "rollup" else ok.groupBy(*keys)
        )
        out = grouped.agg(*[c.alias(k) for k, c in aggs.items()])
        return out.withColumn(ERROR_COL, null_error())

    return Step(
        name, fn, node_type="group_agg", metadata={"aggs": list(aggs.keys()), "mode": mode}
    )


def repartition_rows(
    name: str, num_partitions: int | None = None, by: Seq[str | Column] | None = None
) -> Step:
    """Explicit partitioning control: hash-partition on ``by`` (co-
    locate keys ahead of repeated joins/aggs on them) and/or set the
    partition count. A deliberate shuffle — the lever for layout, not
    a default."""
    if num_partitions is None and by is None:
        raise ValueError(
            "repartition_rows needs num_partitions and/or by — with "
            "neither there is nothing to repartition on"
        )

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        if by is not None and num_partitions is not None:
            return df.repartition(num_partitions, *by)
        if by is not None:
            return df.repartition(*by)
        return df.repartition(num_partitions)

    return Step(name, fn, node_type="repartition")


def coalesce_rows(name: str, num_partitions: int) -> Step:
    """Shrink partition count WITHOUT a shuffle (output files, small
    tails after heavy filters)."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return df.coalesce(num_partitions)

    return Step(name, fn, node_type="coalesce")


def persist_step(name: str, storage_level: str = "MEMORY_AND_DISK") -> Step:
    """Materialization boundary (SURVEY §7.3.1: cache at connector
    boundaries when a subtree feeds multiple consumers). The cache is
    tracked, so ``release_caches()`` or the Step's ``close()`` frees it."""
    from pyspark import StorageLevel

    level = getattr(StorageLevel, storage_level)

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return track(df.persist(level))

    return Step(name, fn, node_type="persist", metadata={"level": storage_level})


def salted_join(
    name: str,
    right: DataFrame,
    on: Seq[str],
    how: str = "inner",
    salt: int = 8,
    seed: int = 42,
) -> Step:
    """Skew-buster join: the left (big, skewed) side gets a random
    salt in [0, salt); the right side is replicated once per salt
    value; the join key becomes (keys..., salt). A hot key's rows
    spread over ``salt`` tasks instead of one straggler. Use when AQE
    skew splitting isn't enough (single monster key); costs salt×
    duplication of the right side — keep it for moderate-size rights.

    Only left-preserving join types are valid: right/full outer would
    emit one NULL-padded row PER SALT REPLICA for unmatched right
    keys (salt× duplicates), so they are rejected."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports left-preserving joins only, got {how!r} "
            "(unmatched right rows would duplicate once per salt replica)"
        )

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        # reserved-name guard, same contract as range_join's _bin: a
        # business column named _salt would be silently clobbered and
        # then dropped (r7 review finding)
        if "_salt" in df.columns or "_salt" in right.columns:
            raise ValueError("salted_join reserves the column name _salt")
        left = df.withColumn("_salt", (F.rand(seed) * salt).cast("int"))
        replicated = right.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        out = left.join(replicated, [*on, "_salt"], how)
        return out.drop("_salt")

    return Step(name, fn, node_type="salted_join", metadata={"salt": salt, "how": how})


def window_calc(
    name: str,
    spec: WindowSpec,
    updates: Mapping[str, Column],
) -> Step:
    """Window functions over a partition/order spec; row-preserving.

    ``updates`` maps output column → window function (e.g.
    ``F.row_number()``); each is applied ``.over(spec)``. One window
    exec node — a single shuffle on the partition keys, over the OK
    rows only: an errored row must neither feed the frame (its value
    would contaminate every happy-path row's aggregate in the
    partition) nor gain new column values — it passes through with
    NULLs in the update columns (r7 review finding).
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok, failed = _split(df)
        out = ok.withColumns({k: c.over(spec) for k, c in updates.items()})
        pad = {k: F.lit(None).cast(out.schema[k].dataType) for k in updates}
        return out.unionByName(failed.withColumns(pad))

    return Step(name, fn, node_type="window")


def sort_rows(name: str, *order: Column | str) -> Step:
    """Global sort (range-partitioned exchange + per-partition sort)."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return df.orderBy(*order)

    return Step(name, fn, node_type="sort")


def limit_rows(name: str, n: int) -> Step:
    """First ``n`` HAPPY rows; errored rows pass through uncounted —
    a dead letter occupying a limit slot (or being cut by one) would
    either displace a real row or silently vanish before its sink."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok, failed = _split(df)
        return ok.limit(n).unionByName(failed)

    return Step(name, fn, node_type="limit")


def top_k(
    name: str,
    n: int,
    order: Seq[Column],
    partition_by: Seq[str | Column] | None = None,
) -> Step:
    """Top-k rows, optionally per group.

    Global top-k compiles to ``orderBy().limit(n)`` — Spark's
    TakeOrderedAndProject: each partition keeps only its local top-k
    and the driver merges k·p rows, never a full global sort. Grouped
    top-k is a row_number window (one shuffle on the group keys).
    Include a unique tiebreaker in ``order`` for deterministic output.

    Ranking runs over OK rows only: an errored row must neither win a
    slot (displacing a real top row with a value the step never
    validated) nor be cut by the rank filter (deleting its dead
    letter) — it passes through (r7 review finding).
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        if "_pipz_rank" in df.columns:
            raise ValueError("input already has the reserved column _pipz_rank")
        ok, failed = _split(df)
        if partition_by:
            spec = Window.partitionBy(*partition_by).orderBy(*order)
            kept = (
                ok.withColumn("_pipz_rank", F.row_number().over(spec))
                .where(F.col("_pipz_rank") <= n)
                .drop("_pipz_rank")
            )
        else:
            kept = ok.orderBy(*order).limit(n)
        return kept.unionByName(failed)

    return Step(name, fn, node_type="top_k", metadata={"k": n})


def distinct_rows(name: str, subset: Seq[str] | None = None) -> Step:
    """Exact distinct on the happy path (hash aggregate on all/subset
    columns — map-side partial dedup before the shuffle). Errored rows
    are exempt and pass through, preserving the dead letter."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok, failed = _split(df)
        ok = ok.drop(ERROR_COL)
        out = ok.dropDuplicates(list(subset)) if subset else ok.distinct()
        return out.withColumn(ERROR_COL, null_error()).unionByName(failed)

    return Step(name, fn, node_type="distinct")


def join_with(
    name: str,
    right: DataFrame,
    on: Seq[str] | Column,
    how: str = "inner",
    broadcast: bool = False,
) -> Step:
    """General join Step. ``broadcast=True`` hints the right side for
    dimension tables; otherwise Catalyst/AQE picks the strategy
    (sort-merge with skew splitting at scale)."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        r = F.broadcast(right) if broadcast else right
        return df.join(r, on=on, how=how)

    return Step(name, fn, node_type="join", metadata={"how": how})


def union_with(name: str, other: DataFrame) -> Step:
    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return df.unionByName(ensure_error_column(other), allowMissingColumns=True)

    return Step(name, fn, node_type="union")


def intersect_with(name: str, other: DataFrame) -> Step:
    """Set intersection on the happy path; errored rows pass through.
    ``other`` may be a Step output — its error column (and its dead
    letters) are excluded from the operand values."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok, failed = _split(df)
        out = ok.drop(ERROR_COL).intersect(_other_ok(other))
        return out.withColumn(ERROR_COL, null_error()).unionByName(failed)

    return Step(name, fn, node_type="intersect")


def except_with(name: str, other: DataFrame) -> Step:
    """SET difference (deduplicating, matching SQL EXCEPT and the
    intersect sibling) on the happy path; errored rows pass through.
    The multiset form is ``DataFrame.exceptAll`` composed directly
    (declared query ``rel_setops_all``) — mixing the two polarities in
    one Step made its docstring lie (r7 review finding)."""

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        ok, failed = _split(df)
        # subtract == SQL EXCEPT (distinct): a row present in `other`
        # is gone entirely — exceptAll would leave surplus duplicates
        out = ok.drop(ERROR_COL).subtract(_other_ok(other))
        return out.withColumn(ERROR_COL, null_error()).unionByName(failed)

    return Step(name, fn, node_type="except")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: Seq[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload: Seq[str] | None = None,
    prefix: str = "asof_",
    strict: bool = False,
) -> DataFrame:
    """As-of join: attach to each left row the payload of the LATEST
    right row with the same keys and ``right_ts <= left_ts``
    (``strict=True`` for ``<``); left rows with no prior right row
    keep NULL payload. The canonical time-series lookup Spark has no
    native operator for (the brief's example of a custom operator).

    NOT a join at all: both sides union into one frame and a single
    window pass per key carries the latest right payload forward
    (``last(..., ignorenulls)`` over rows-unbounded-preceding) — ONE
    shuffle on the keys, linear state, no range-join candidate
    explosion (a range join on ts proximity generates O(|L|·|R|)
    candidates per key before filtering; this is O(|L|+|R|) always).
    Tie handling is by sort order within equal timestamps: the right
    row sorts BEFORE the left row for non-strict (so an exactly
    simultaneous right row is visible), AFTER it for strict.

    100 TB posture: the window partitions by the join keys, so state
    per task is one key-group's rows — the same bound as any windowed
    analytic; a pathologically hot key wants a coarse time-bucket
    pre-split, same mitigation as any skewed window.
    """
    keys = list(keys)
    payload = list(
        payload
        if payload is not None
        else [c for c in right.columns if c not in keys and c != right_ts]
    )
    # join semantics, enforced before the union: a NULL key never
    # matches join equality, and a NULL timestamp is never "as of"
    # anything — without this filter the window formulation would
    # group NULL keys together (partitionBy matches NULLs) and sort
    # NULL ts first (infinitely early), both attaching payload a real
    # ASOF join returns NULL for
    right = right.where(F.col(right_ts).isNotNull())
    for k in keys:
        right = right.where(F.col(k).isNotNull())
    left_only = [c for c in left.columns if c not in keys and c != left_ts]
    # common unioned shape: keys, _ts, _side, left columns (NULL on
    # right rows), and the payload packed into ONE struct — the
    # carry-forward must be per-ROW, not per-column: last(col,
    # ignorenulls) on bare columns would resurrect an older non-NULL
    # value past a newer right row whose payload field is NULL, and
    # could mix fields from different right rows. The struct is
    # non-NULL for every right row (even all-NULL payload fields), so
    # last(struct, ignorenulls) atomically selects the latest row.
    payload_struct = F.struct(*[F.col(c).alias(c) for c in payload])
    null_struct = F.lit(None).cast(
        "struct<" + ", ".join(f"{c}: {right.schema[c].dataType.simpleString()}" for c in payload) + ">"
    )
    l_side = left.select(
        *keys,
        F.col(left_ts).alias("_ts"),
        F.lit(1 if not strict else 0).alias("_side"),
        *[F.col(c).alias(f"_l_{c}") for c in left_only],
        null_struct.alias("_p"),
    )
    r_side = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(0 if not strict else 1).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in left_only],
        payload_struct.alias("_p"),
    )
    # _p as the final sort key: multiple right rows sharing (keys, ts)
    # would otherwise resolve by partition-sort nondeterminism;
    # ordering by the packed payload makes the pick deterministic
    # (greatest payload struct wins) run-to-run and cluster-to-cluster.
    # Only when the payload is ORDERABLE — a map-typed column cannot
    # appear in a sort order, and an unorderable payload keeps the
    # (documented) nondeterministic tie rather than failing analysis.
    tiebreak = ["_p"] if all(orderable(right.schema[c].dataType) for c in payload) else []
    w = (
        Window.partitionBy(*keys)
        .orderBy("_ts", "_side", *tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_side.unionByName(r_side).select(
        *keys,
        "_ts",
        "_side",
        *[f"_l_{c}" for c in left_only],
        F.last(F.col("_p"), ignorenulls=True).over(w).alias("_p"),
    )
    left_marker = 1 if not strict else 0
    return filled.where(F.col("_side") == left_marker).select(
        *keys,
        F.col("_ts").alias(left_ts),
        *[F.col(f"_l_{c}").alias(c) for c in left_only],
        *[F.col("_p")[c].alias(f"{prefix}{c}") for c in payload],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    point: str,
    start: str,
    end: str,
    bin_width_us: int,
    keys: Seq[str] = (),
    end_inclusive: bool = False,
) -> DataFrame:
    """Interval (range) join: each left row whose ``point`` timestamp
    falls inside a right row's ``[start, end)`` interval (``[start,
    end]`` with ``end_inclusive=True``), optionally also matching on
    equi ``keys``. The second canonical time operator Spark lacks
    natively (alongside as_of_join).

    Why not ``left.join(right, point_between_cond)``: a pure
    inequality join gives Catalyst no equi-key, so the physical plan
    is BroadcastNestedLoopJoin — O(|L|·|R|) comparisons and a
    broadcast of a possibly huge side; at 100 TB that plan never
    finishes. BINNING restores an equi-key: quantize time into
    ``bin_width_us``-microsecond bins, replicate each interval onto
    every bin it overlaps (``sequence()`` + ``explode`` — interval
    rows grow by ceil(len/bin), a bounded, chosen factor), map each
    point to its single bin, then SortMergeJoin on (keys…, bin) and
    re-check the exact predicate. Each (point, interval) pair meets
    in exactly one bin — the point's — so no post-join dedup is
    needed. Shuffle is on the bin key: time-uniform data spreads
    evenly; a hot bin is visible to AQE skew-join because the skew
    exists in the JOINED rows (input-side), unlike pair-expansion
    skew (dedup.py:200-218) which AQE cannot see.

    Pick ``bin_width_us`` ≈ the typical interval length: too small
    replicates intervals many times, too large packs many points and
    intervals into one bin (candidate blowup toward the O(L·R) it
    exists to avoid).

    The reference has no interval semantics at all (values are
    scalar, api.go:423-428); this is a native-engine capability in
    the SURVEY §2.4 family.
    """
    keys = list(keys)
    if "_bin" in left.columns or "_bin" in right.columns:
        # withColumn would silently overwrite it and the final drop
        # would delete the caller's column
        raise ValueError("range_join reserves the column name '_bin'")

    # FLOOR division, not cast-truncation: cast("long") truncates
    # toward zero, which mis-bins pre-epoch (negative-micros)
    # timestamps. Micros magnitudes (~1.7e15 for 2024) sit well under
    # double's exact-integer range (2^53), so the double divide is
    # exact enough for floor to land the right bin.
    def _bin(c: Column) -> Column:
        return F.floor(F.unix_micros(c) / F.lit(bin_width_us)).cast("long")

    l = left.withColumn("_bin", _bin(left[point]))
    # degenerate intervals (end < start) can match nothing, but
    # sequence() would still replicate them (with an implicit -1
    # step); drop them before the explode. NULL bounds also exit
    # here, matching join-predicate NULL semantics.
    r = right.where(right[start] <= right[end]).withColumn(
        "_bin", F.explode(F.sequence(_bin(right[start]), _bin(right[end])))
    )
    # frame-qualified refs, not F.col(name): if the right side also
    # carries a column named like ``point`` (or the left one named
    # like ``start``/``end``), a bare name in the post-join predicate
    # is AMBIGUOUS_REFERENCE — the qualified form resolves regardless
    # of overlapping schemas
    exact = left[point] >= right[start]
    exact = exact & (
        (left[point] <= right[end]) if end_inclusive else (left[point] < right[end])
    )
    joined = l.join(r, on=[*keys, "_bin"], how="inner").where(exact)
    return joined.drop("_bin")


__all__ = [
    "as_of_join",
    "range_join",
    "coalesce_rows",
    "group_agg",
    "persist_step",
    "repartition_rows",
    "salted_join",
    "window_calc",
    "sort_rows",
    "limit_rows",
    "top_k",
    "distinct_rows",
    "join_with",
    "union_with",
    "intersect_with",
    "except_with",
]
