"""Pipeline-level combinators (the reference's connectors).

Data-plane connectors compile to lazy DataFrame algebra:

  Sequence  (sequence.go:67-172)   fold of Steps; fail-fast = per-row
                                   error guard, Catalyst fuses steps
  Switch    (switch.go:76-127)     route key → branch; no match = pass
  Filter    (filter.go:66-118)     cond ? step(x) : x  (NOT row drop)
  Concurrent(concurrent.go:118-250) N branch derivations in ONE pass +
                                   reducer expression (no clones needed:
                                   DataFrames are immutable)
  Race      (race.go:58-159)       batch semantic: first success BY
                                   DECLARED PRIORITY (documented
                                   divergence from wall-clock racing;
                                   SURVEY §7.3.3)
  Contest   (contest.go:64-190)    first by priority that succeeds AND
                                   meets the winning condition
  Fallback  (fallback.go:59-144)   declaration-order first success
  Handle    (handle.go:60-120)     dead-letter split; original error
                                   passes through unchanged

Control-plane connectors (Retry/Backoff/Timeout/CircuitBreaker/
RateLimiter/WorkerPool/Scaffold) wrap driver-side ACTIONS, not rows —
see pipz_spark.control.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence as Seq
from dataclasses import dataclass, field
from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.caches import track
from ..core.errors import ERROR_COL, is_failed, is_ok, make_error
from ..core.step import Step, identity_step
from .processors import _guarded, _obs_name, _resolve, transform, Updates

_ROUTE = "_pipz_route"
_WINNER = "_pipz_winner"


class Sequence(Step):
    """Ordered fail-fast chain; output of step i feeds step i+1.

    Runtime-mutable like the reference (sequence.go:87-303); each
    apply() snapshots the current child list (the analog of the
    reference's snapshot-under-RLock, sequence.go:118-121).
    """

    node_type = "sequence"

    def __init__(self, name: str, *steps: Step) -> None:
        # the children setter below routes this into self._steps
        super().__init__(name, self._run, node_type="sequence", children=tuple(steps))

    @property
    def children(self) -> tuple[Step, ...]:  # type: ignore[override]
        return tuple(self._steps)

    @children.setter
    def children(self, value: tuple[Step, ...]) -> None:
        # Step.__init__ assigns children; route it into the live list.
        self._steps = list(value)

    def _run(self, df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        snapshot = list(self._steps)
        return _reduce(lambda acc, s: s.apply(acc, path), snapshot, df)

    # -- runtime modification API (mirror of sequence.go:87-303) ------
    def register(self, *steps: Step) -> "Sequence":
        self._steps.extend(steps)
        return self

    push = register

    def unshift(self, *steps: Step) -> "Sequence":
        self._steps[:0] = list(steps)
        return self

    def pop(self) -> Step:
        return self._steps.pop()

    def shift(self) -> Step:
        return self._steps.pop(0)

    def remove(self, name: str) -> "Sequence":
        self._steps = [s for s in self._steps if s.name != name]
        return self

    def replace(self, name: str, step: Step) -> "Sequence":
        self._steps = [step if s.name == name else s for s in self._steps]
        return self

    def after(self, name: str, *steps: Step) -> "Sequence":
        idx = self._names().index(name) + 1
        self._steps[idx:idx] = list(steps)
        return self

    def before(self, name: str, *steps: Step) -> "Sequence":
        idx = self._names().index(name)
        self._steps[idx:idx] = list(steps)
        return self

    def clear(self) -> "Sequence":
        self._steps.clear()
        return self

    def _names(self) -> list[str]:
        return [s.name for s in self._steps]


def sequence(name: str, *steps: Step) -> Sequence:
    return Sequence(name, *steps)


def _first_arm(
    df: DataFrame, arms: Seq[tuple[Column, Mapping[str, Column]]]
) -> dict[str, Column]:
    """Per updated column, a CASE chain over ``(hit, updates)`` arms in
    order: the first arm that hits and sets the column wins. An existing
    column keeps its value where none does; a new one is NULL there."""
    chains: dict[str, Column] = {}
    for hit, arm in arms:
        for col, expr in arm.items():
            chains[col] = (chains[col] if col in chains else F).when(hit, expr)  # type: ignore[union-attr]
    cols = set(df.columns)
    return {c: ch.otherwise(F.col(c)) if c in cols else ch for c, ch in chains.items()}


def switch(
    name: str,
    route_key: Column,
    routes: Mapping[str, Step | Updates],
    default: Step | Updates | None = None,
) -> Step:
    """Per-row routing on a string key; unmatched rows pass through
    unchanged (switch.go:104-107).

    Two compilation modes:

    * **Expression mode** (all branches are Updates mappings, the
      preferred shape at 100 TB): the entire switch is ONE guarded
      projection over ONE scan — per output column a chained
      ``when(route_key <=> k, branch_expr)``, with input-passthrough as
      the final otherwise of an existing column. This is the exact
      mapping SURVEY §2.2 C2 prescribes; no unions, no re-scans,
      whole-stage codegen fuses it with neighboring steps. A bare
      column key is read inline by every arm; any computed key is
      staged as one column first, so it is evaluated once per row and
      every arm and column agree on it (a ``rand()`` key stays one
      draw per row).
    * **Step mode** (any branch is a heavyweight Step, e.g. one doing
      its own join): filter-split per route + unionByName, with the
      routed input persisted so the k branch filters read the input
      ONCE instead of k+1 times.

    Errored rows always take the passthrough arm (they must skip
    processing).
    """
    branches = dict(routes)
    expr_mode = all(not isinstance(b, Step) for b in branches.values()) and not isinstance(
        default, Step
    )

    # a bare column is read inline by every arm; a computed key is staged
    staged = expr_mode and (
        route_key._jc.node().getClass().getSimpleName() != "UnresolvedAttribute"
    )

    def fn_expr(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        key = F.col(_ROUTE) if staged else route_key
        arms = [(key.eqNullSafe(F.lit(k)), _resolve(b, df)) for k, b in branches.items()]
        if default is not None:
            no_match = ~F.coalesce(key.isin(list(branches)), F.lit(False))
            arms.append((no_match, _resolve(default, df)))
        if not staged:
            return _guarded(df, _first_arm(df, arms))
        routed = df.withColumn(_ROUTE, route_key)
        return _guarded(routed, _first_arm(df, arms)).drop(_ROUTE)

    def fn_steps(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        # Heavyweight-branch mode: persist the routed input so the k+1
        # branch filters share one materialization of the upstream plan
        # instead of re-scanning it per route (tracked: a stream frees
        # it per micro-batch instead of accumulating it).
        routed = track(df.withColumn(_ROUTE, F.when(is_ok(), route_key)).persist())
        outs: list[DataFrame] = []
        keys = list(branches.keys())
        for key, child in branches.items():
            arm = routed.where(F.col(_ROUTE).eqNullSafe(F.lit(key)))
            child_step = child if isinstance(child, Step) else transform(f"{name}.{key}", child)
            outs.append(child_step.apply(arm, path))
        rest = routed.where(~F.coalesce(F.col(_ROUTE).isin(keys), F.lit(False)))
        if default is not None:
            default_step = (
                default if isinstance(default, Step) else transform(f"{name}.default", default)
            )
            rest = default_step.apply(rest, path)
        outs.append(rest)
        out = _reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), outs)
        return out.drop(_ROUTE)

    children = tuple(b for b in branches.values() if isinstance(b, Step))
    if isinstance(default, Step):
        children += (default,)
    return Step(
        name,
        fn_expr if expr_mode else fn_steps,
        node_type="switch",
        children=children,
        metadata={"routes": list(branches.keys()), "mode": "expr" if expr_mode else "steps"},
    )


def filter_if(name: str, condition: Column, child: Step | Updates) -> Step:
    """Conditional application: condition true → child(x), else x.

    This is the reference's Filter (filter.go:94-97) — NOT row
    elimination. (Row-dropping selection is plain ``where_rows``.)

    Expression-shaped children (Updates) compile to one guarded
    projection — one scan, no union. Step children fall back to
    filter-split + union.
    """

    def fn_expr(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return _guarded(df, _resolve(child, df), when=condition)  # type: ignore[arg-type]

    def fn_step(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        # null-safe: a NULL condition counts as "no hit" (row passes through)
        hit_cond = F.coalesce(is_ok() & condition, F.lit(False))
        cached = track(df.persist())
        processed = child.apply(cached.where(hit_cond), path)  # type: ignore[union-attr]
        miss = cached.where(~hit_cond)
        return processed.unionByName(miss, allowMissingColumns=True)

    if isinstance(child, Step):
        return Step(name, fn_step, node_type="filter", children=(child,))
    return Step(name, fn_expr, node_type="filter")


@dataclass
class Attempt:
    """One fallible derivation for Race/Contest/Fallback.

    ``updates`` computes candidate column values from the input row;
    ``fail_when`` (evaluated on the input row) marks the attempt
    failed — the batch analog of the processor returning an error.
    """

    name: str
    updates: dict[str, Column]
    fail_when: Column | None = None
    metadata: dict = field(default_factory=dict)

    def ok(self) -> Column:
        return F.lit(True) if self.fail_when is None else ~self.fail_when


def _first_qualifying(
    name: str,
    node_type: str,
    attempts: Seq[Attempt],
    qualifies: Callable[[Attempt], Column],
    all_fail_message: str,
) -> Step:
    """Shared engine for Race/Contest/Fallback batch semantics: pick,
    per row, ONE winning attempt — the first in declaration order whose
    ``qualifies`` predicate holds — and take EVERY updated column from
    that single winner (a column the winner doesn't update keeps its
    input value), matching the reference's whole-result-per-value
    semantics (fallback.go:90-143 / race.go:66-159). If no attempt
    qualifies, the row errors and keeps its original values
    (contest.go:174-189).

    NULL qualification predicates count as False so every row
    deterministically ends up with a result or an error — the
    reference is total.

    All candidate expressions evaluate in ONE projection over ONE scan
    — the batch improvement over goroutine-per-branch + clones
    (concurrent.go:180): no data copies, no coordination.
    """
    if not attempts:
        raise ValueError(f"{node_type} '{name}' needs at least one attempt")

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        # the winner is staged once per row so every column and the
        # error agree on it; failed rows never evaluate the attempts
        winner_chain = F.when(is_failed(), F.lit(None))
        for i, a in enumerate(attempts):
            winner_chain = winner_chain.when(qualifies(a), F.lit(i))
        won = F.col(_WINNER)
        updates = _first_arm(df, [(won == i, a.updates) for i, a in enumerate(attempts)])
        err = make_error(list(path), all_fail_message)
        staged = df.withColumn(_WINNER, winner_chain)
        return _guarded(staged, updates, fail_when=won.isNull(), error=err).drop(_WINNER)

    return Step(
        name,
        fn,
        node_type=node_type,
        metadata={"attempts": [a.name for a in attempts]},
    )


def fallback(name: str, attempts: Seq[Attempt]) -> Step:
    """Declaration-order first-success (fallback.go:90-143)."""
    return _first_qualifying(
        name, "fallback", attempts, lambda a: a.ok(),
        all_fail_message=f"{name}: all {len(attempts)} attempts failed",
    )


def race(name: str, attempts: Seq[Attempt]) -> Step:
    """First success wins. Batch semantic = first by declared priority
    (deterministic; documented divergence from wall-clock racing,
    race.go:123 / SURVEY §7.3.3). For true concurrent multi-source
    reads use pipz_spark.control.WorkerPool driver-side."""
    return _first_qualifying(
        name, "race", attempts, lambda a: a.ok(),
        all_fail_message=f"{name}: all {len(attempts)} competitors failed",
    )


def contest(
    name: str,
    condition: Callable[[Mapping[str, Column]], Column],
    attempts: Seq[Attempt],
) -> Step:
    """First (by priority) that succeeds AND whose RESULT meets the
    winning condition (contest.go:144-158); none → error with the
    original value intact (contest.go:174-189)."""
    return _first_qualifying(
        name,
        "contest",
        attempts,
        lambda a: a.ok() & condition(a.updates),
        all_fail_message=f"{name}: no attempt met the winning condition",
    )


def concurrent(
    name: str,
    branches: Mapping[str, Updates],
    reducer: Callable[[Mapping[str, Mapping[str, Column]]], Mapping[str, Column]]
    | None = None,
) -> Step:
    """Run N derivations per row; reducer combines (concurrent.go:108).

    Without a reducer the VALUES pass through unchanged — side-effect
    fan-out (concurrent.go:222) — but each branch's expressions are
    registered as real ``df.observe`` aggregates (count of non-null
    evaluations per output name), so they genuinely evaluate at the
    next action and surface via QueryExecutionListener, mirroring the
    reference running every branch for its side effects.
    With a reducer, all branches + the reduction compile into ONE
    projection (Spark evaluates the N branches with partition
    parallelism for free — no goroutines, no Cloner copies).
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        resolved = {b: dict(_resolve(u, df)) for b, u in branches.items()}
        if reducer is None:
            for b, updates in resolved.items():
                if updates:
                    # counts gated on is_ok(): errored rows skip every
                    # branch (reducer mode guards via _guarded), so
                    # the observed completion counts must match what
                    # actually executed (r7 review finding)
                    df = df.observe(
                        _obs_name(f"{name}/{b}"),
                        *[
                            F.count(F.when(is_ok(), expr)).alias(k)
                            for k, expr in updates.items()
                        ],
                    )
            return df
        return _guarded(df, reducer(resolved))

    return Step(
        name,
        fn,
        node_type="concurrent",
        metadata={"branches": list(branches.keys()), "reduced": reducer is not None},
    )


def handle(
    name: str,
    child: Step,
    handler: Callable[[DataFrame], None] | Step,
    bus=None,
) -> Step:
    """Dead-letter pattern (handle.go:69-120): on child errors, feed
    the failed rows to an observation/cleanup handler; the ORIGINAL
    errors pass through unchanged (handle.go:96) — handler output is
    discarded and error rows stay excluded downstream.

    The child's output is persisted at this boundary so the handler's
    action and the caller's downstream action share ONE computation of
    the child plan instead of recomputing it per consumer. A Step
    handler is driven to completion via the no-op sink (its
    observations/effects execute for real); note this materializes the
    child plan at compose time — Step handlers are an eager boundary
    by design, callables stay lazy and decide themselves when to act.
    Composition-heavy code that builds plans without running them
    should therefore default to the CALLABLE handler form — see
    "handle and the eager boundary" in the README for the full
    contract and the persist/release lifecycle.
    """

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        from ..control import signals as S

        out = track(child.apply(df, path).persist())
        failed = out.where(F.col(ERROR_COL).isNotNull())
        try:
            if isinstance(handler, Step):
                handler.apply(failed, path).write.format("noop").mode("overwrite").save()
            else:
                handler(failed)
        except Exception:
            pass  # handler errors ignored (handle.go:94)
        # handle is the one data-plane connector with an EAGER action
        # boundary, so error-handled counts are observable here. The
        # count is an extra Spark action on the persisted split, so it
        # runs only for DIRECT subscribers of this signal — a generic
        # on_any logger does not opt every handle apply into a count()
        # job (subscribe to handle.error-handled by name to get it).
        b = bus if bus is not None else S.BUS
        if b.has_direct_listeners(S.HANDLE_ERROR_HANDLED):
            b.emit(S.HANDLE_ERROR_HANDLED, name=name, handled=failed.count())
        elif b.has_listeners(S.HANDLE_ERROR_HANDLED):
            # on_any-only audience: keep the lifecycle event VISIBLE
            # (a generic audit logger must not silently miss it) while
            # still refusing to buy the count() action for it
            b.emit(S.HANDLE_ERROR_HANDLED, name=name, handled=None)
        return out

    return Step(name, fn, node_type="handle", children=(child,))


# Row-dropping selection — native engine capability beyond the
# reference (SURVEY §2.4: "row elimination exists only as
# error-routing"); plain df.where under the hood.
def where_rows(name: str, condition: Column) -> Step:
    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        return df.where(condition | F.col(ERROR_COL).isNotNull())

    return Step(name, fn, node_type="where")


__all__ = [
    "Sequence",
    "sequence",
    "switch",
    "filter_if",
    "Attempt",
    "fallback",
    "race",
    "contest",
    "concurrent",
    "handle",
    "where_rows",
    "identity_step",
]
