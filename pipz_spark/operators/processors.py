"""Row-level leaf operators (the reference's five processor adapters).

Mirrors reference semantics:
  - Transform  (transform.go:26-35)  pure per-value fn, cannot fail
  - Apply      (apply.go:72-94)      fallible fn; failure → Error[T]
  - Effect     (effect.go:130-152)   side effect; value passes through
  - Mutate     (mutate.go:187-200)   condition ? transformer(x) : x
  - Enrich     (enrich.go:238-251)   best-effort; failure swallowed

Spark-first design: a "user function" here is a dict of named Column
expressions (``{"col": expr}``) — the declarative analog of a Go
closure over a struct. Every column-only step (here and in the
expression-mode connectors) compiles through ``_guarded`` to one
``withColumns`` guarded by ``error IS NULL`` (the per-row fail-fast
short-circuit); a failed row keeps its pre-step values. Catalyst fuses
those into a single whole-stage-codegen projection: the
distributed analog of the reference's zero-allocation hot path
(api.go:277-284). Arbitrary Python (the true closure escape hatch) is
supported via pandas UDFs in pipz_spark.functions.udf — the slow
path, used only when expressions can't say it.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from itertools import count as _count

from ..core.errors import ERROR_COL, is_failed, is_ok, make_error
from ..core.identity import Identity
from ..core.step import Step
from .relational import orderable

_obs_seq = _count()  # one counter for every observation name this
# layer mints, so two same-named observations in one plan don't collide


def _obs_name(name: str) -> str:
    return f"{name}#{next(_obs_seq)}"


# Updates may be given as a static mapping or lazily as fn(df) -> mapping
Updates = Mapping[str, Column] | Callable[[DataFrame], Mapping[str, Column]]


def _resolve(updates: Updates | None, df: DataFrame) -> dict[str, Column]:
    if updates is None:
        return {}
    if callable(updates):
        updates = updates(df)
    return dict(updates)


def _guarded(
    df: DataFrame,
    updates: Mapping[str, Column],
    when: Column | None = None,
    fail_when: Column | None = None,
    error: Column | None = None,
) -> DataFrame:
    """The one guarded projection every column-only Step compiles to.

    Ok rows where ``fail_when`` holds get ``error`` and keep their
    pre-step values; every other ok row takes ``updates`` where ``when``
    holds (NULL counts as false). Failed rows and misses keep existing
    columns; a new column is NULL there. One ``withColumns`` (one
    ``Project``), every expression over the input row.
    """
    if not updates and fail_when is None:
        return df
    ok = is_ok()
    out: dict[str, Column] = {}
    if fail_when is not None:
        out[ERROR_COL] = F.when(ok & fail_when, error).otherwise(F.col(ERROR_COL))
    if updates:
        hit = ok if fail_when is None else ok & ~F.coalesce(fail_when, F.lit(False))
        if when is not None:
            hit = hit & when
        cols = set(df.columns)
        for name, expr in updates.items():
            upd = F.when(hit, expr)
            out[name] = upd.otherwise(F.col(name)) if name in cols else upd
    if len(out) == 1:  # one Project either way; withColumns costs ~10 more py4j calls
        return df.withColumn(*out.popitem())
    return df.withColumns(out)


def transform(name: str, updates: Updates, description: str = "") -> Step:
    """Pure per-value transformation; cannot fail.

    Reference: transform.go:26-35.
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return _guarded(df, _resolve(updates, df))

    return Step(Identity(name, description), fn, node_type="transform")


def apply(
    name: str,
    updates: Updates | None = None,
    *,
    error_when: Column | None = None,
    message: Column | str = "apply failed",
    timeout: bool = False,
    canceled: bool = False,
) -> Step:
    """Fallible transformation. Rows matching ``error_when`` get an
    error struct (path = enclosing connectors + this step) and skip
    the updates; already-errored rows are untouched.

    Reference: apply.go:72-94 (error wrap at apply.go:80-89). The
    reference zeroes the value on failure; here the row keeps its
    pre-step columns and is excluded from the happy path — same
    observable pipeline behavior, NULL-friendly instead of
    zero-value-friendly. The error and the updates are one projection,
    each testing ``error_when``: a nondeterministic one (``rand()``)
    must be staged as a column first so they agree.
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        err = None if error_when is None else make_error(
            list(path), message, timeout=timeout, canceled=canceled
        )
        return _guarded(df, _resolve(updates, df), fail_when=error_when, error=err)

    return Step(name, fn, node_type="apply")


def effect(
    name: str,
    *,
    metrics: Mapping[str, Column] | None = None,
    error_when: Column | None = None,
    message: Column | str = "effect failed",
    observation: "object | None" = None,
) -> Step:
    """Side effect; data passes through unchanged (effect.go:136).

    Data-plane effects are observations: ``metrics`` registers
    ``df.observe`` aggregates collected at the next action (the
    Spark-native analog of a logging/metrics closure). Pass a
    ``pyspark.sql.Observation`` to read the values back driver-side
    after the action (see control.collect_observation, which routes
    them to the signal bus — the consumer the reference's signal
    emission implies, signals.go:7-137). A failing effect
    (``error_when``) stops the row like the reference (error stops
    pipeline) without modifying the value.

    ``metrics`` are caller-built AGGREGATES and observe every row in
    the frame, including already-errored ones (the step cannot rewrite
    an opaque aggregate's inputs). For reference-parity counts —
    errored values never reach an Effect there — gate the inputs
    yourself (``F.count(F.when(is_ok(), 1))``) or use the
    ``control.observe`` helpers, which build gated metrics.
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        if metrics:
            aggs = [c.alias(k) for k, c in metrics.items()]
            if observation is not None:
                df = df.observe(observation, *aggs)
            else:
                df = df.observe(_obs_name(name), *aggs)
        if error_when is None:
            return df
        return _guarded(df, {}, fail_when=error_when, error=make_error(list(path), message))

    return Step(name, fn, node_type="effect")


def mutate(
    name: str,
    updates: Updates,
    condition: Column,
    description: str = "",
) -> Step:
    """Conditional pure transformation: condition ? f(x) : x.

    Reference: mutate.go:187-200.
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return _guarded(df, _resolve(updates, df), when=condition)

    return Step(Identity(name, description), fn, node_type="mutate")


def enrich(
    name: str,
    lookup: DataFrame | Callable[[], DataFrame],
    on: list[str] | Mapping[str, str] | Column,
    *,
    select: Mapping[str, str] | None = None,
    broadcast: bool = True,
    assume_unique: bool = False,
) -> Step:
    """Best-effort enhancement via LEFT OUTER equi-join.

    Reference: enrich.go:238-251 — on any failure the ORIGINAL value
    is returned and the error swallowed. Join translation:
      * lookup miss        → enrichment columns NULL, row intact
      * lookup source fails → identity (try/except around acquisition)
    ``on`` is a list of shared key names, a ``{left_col: right_col}``
    mapping when the key is named differently in the lookup (the
    common star-schema case: ``on={"o_custkey": "c_custkey"}``), or a
    raw join Column. ``select`` maps output-column → lookup-column
    (pruned projection → the scan reads only what's needed).
    ``broadcast=True`` hints the dimension side — at 100 TB fact
    scale a small dim must never shuffle the fact table.

    Enrich is strictly one-in-one-out (enrich.go:238-251): for keyed
    joins the lookup is deterministically deduplicated on the keys
    first (smallest remaining row wins), so duplicate lookup keys can
    never fan out fact rows. ``assume_unique=True`` skips that
    pre-aggregation when the caller vouches the keys are unique (a
    PK-joined dimension) — the 1:1 guarantee then rests on the
    caller, and the join plan loses an aggregation stage (measured
    1.64x → ~1.1x of the handwritten join on p5_enrich).
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        try:
            right = lookup() if callable(lookup) else lookup
        except Exception:
            return df  # swallow, mirror enrich.go:243-247
        join_on: list[str] | Column
        if isinstance(on, Mapping):
            for left_col, right_col in on.items():
                if right_col != left_col:
                    right = right.withColumnRenamed(right_col, left_col)
            keys = list(on.keys())
            join_on = keys
        elif isinstance(on, list):
            keys = list(on)
            join_on = keys
        else:
            keys = []
            join_on = on
        post_drop: list[str] = []
        if select:
            if keys:
                keep = list(dict.fromkeys([*keys, *select.values()]))
                keep = [c for c in keep if c in right.columns]
                right = right.select(*keep)
                for out_col, src_col in select.items():
                    if out_col != src_col:
                        right = right.withColumnRenamed(src_col, out_col)
            else:
                # expression join (`on` is a raw Column): pre-join
                # pruning could drop the very columns the condition
                # references, failing analysis (r7 review finding) —
                # rename only the SELECTED columns, and drop every
                # unselected right column AFTER the join by BOUND
                # reference (right[col]), which disambiguates names
                # that collide with the left side (r7 advisory)
                # without renaming them: a pre-join rename mints a
                # new exprId and breaks caller conditions built
                # against the original frame (r8 review).
                for out_col, src_col in select.items():
                    if out_col != src_col:
                        right = right.withColumnRenamed(src_col, out_col)
                post_drop = [c for c in right.columns if c not in select]
        if keys and not assume_unique:
            # deterministic 1:1 — min(struct(other cols)) per key; the
            # dim side stays tiny so this pre-agg is negligible next to
            # the fact scan and keeps the join broadcast-able.
            others = [c for c in right.columns if c not in keys]
            unorderable = [
                c for c in others if not orderable(right.schema[c].dataType)
            ]
            if unorderable:
                # min(struct(...)) fails ANALYSIS on map-typed columns;
                # fail with the actionable message instead
                raise ValueError(
                    f"enrich {name!r}: lookup column(s) {unorderable} are "
                    "unorderable (map type), so the deterministic 1:1 dedup "
                    "cannot pick a row — pass assume_unique=True (keys are "
                    "unique) or select= to exclude them"
                )
            if others:
                packed = right.groupBy(*keys).agg(
                    F.min(F.struct(*[F.col(c) for c in others])).alias("_pipz_pack")
                )
                right = packed.select(*keys, *[F.col(f"_pipz_pack.{c}").alias(c) for c in others])
            else:
                right = right.dropDuplicates(keys)
        if broadcast:
            right = F.broadcast(right)
        joined = df.join(right, on=join_on, how="left")
        if post_drop:
            joined = joined.drop(*[right[c] for c in post_drop])
        # Errored rows must not gain enrichment (they skipped the step).
        new_cols = [c for c in joined.columns if c not in df.columns]
        if new_cols:
            joined = joined.withColumns(
                {c: F.when(is_failed(), F.lit(None)).otherwise(F.col(c)) for c in new_cols}
            )
        return joined

    return Step(name, fn, node_type="enrich")
