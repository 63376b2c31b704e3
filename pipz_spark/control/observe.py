"""Observation → signal-bus bridge (the consumer side of SURVEY S3).

The reference's Effect processors emit metrics to the capitan bus;
the Spark analog is ``df.observe`` aggregates that materialize with
the action. ``observed_effect`` pairs an Effect step with a
``pyspark.sql.Observation``; ``collect_observation`` reads the values
after the action ran and publishes them as a signal — closing the
loop VERDICT r1 flagged (metrics registered but never read).
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Any

from pyspark.sql import Column, Observation

from ..core.step import Step
from ..operators.processors import effect
from . import signals as S

EFFECT_OBSERVED = "effect.observed"


def observed_effect(
    name: str,
    metrics: Mapping[str, Column],
    error_when: Column | None = None,
) -> tuple[Step, Observation]:
    """An Effect step whose metrics are readable driver-side. Note an
    Observation binds to ONE action — build a fresh pair per run."""
    obs = Observation(name)
    step = effect(name, metrics=metrics, error_when=error_when, observation=obs)
    return step, obs


def collect_observation(
    obs: Observation,
    name: str = "effect",
    bus: S.SignalBus = S.BUS,
    signal: str = EFFECT_OBSERVED,
) -> dict[str, Any]:
    """Read observed metric values (blocks until the action that
    materialized the observed DataFrame has completed) and emit them
    on the signal bus."""
    values = dict(obs.get)
    bus.emit(signal, name=name, **values)
    return values


def observed_routing(
    name: str,
    labels: Mapping[str, Column],
) -> tuple[Step, Observation]:
    """Per-route counts for routing connectors — the batch face of the
    reference's per-value ``switch.routed`` / ``contest.winner``
    signals (signals.go:7-137). In a vectorized engine routing is a
    projection, so route events are COUNTS aggregated with the action:
    compose the returned step after a switch/contest, run the action,
    then ``collect_observation(obs, name, signal=S.SWITCH_ROUTED)``.

    ``labels`` maps route name → row predicate (e.g. the switch's
    route condition). Adds one observe node — no extra scan, no
    shuffle."""
    from pyspark.sql import functions as F

    from ..core.errors import is_ok

    # already-errored rows never route (switch sends them to
    # passthrough in both expr and step mode) — gate the counts on
    # is_ok() like observed_filter/winner_labels do, or the emitted
    # route counts overstate hits (r7 review finding)
    metrics = {
        k: F.count(F.when(is_ok() & F.coalesce(cond, F.lit(False)), 1)).alias(k)
        for k, cond in labels.items()
    }
    return observed_effect(name, metrics)


def observed_filter(name: str, condition: Column):
    """The aggregate face of the reference's per-value
    ``filter.evaluated`` (filter.go:94-97 / signals.go:126-130): in a
    vectorized engine the filter condition evaluates as a projection,
    so "evaluated" events are hit/miss COUNTS that materialize with
    the action. Compose the returned step next to the ``filter_if`` it
    observes (same condition), run the action, then
    ``collect_observation(obs, name, signal=S.FILTER_EVALUATED)`` —
    the emitted fields are ``processed`` (condition true → child
    applied) and ``passed_through``."""
    from pyspark.sql import functions as F

    from ..core.errors import is_ok

    # count only rows the filter actually evaluates: filter_if skips
    # errored rows, so they belong in neither bucket
    hit = is_ok() & F.coalesce(condition, F.lit(False))
    miss = is_ok() & ~F.coalesce(condition, F.lit(False))
    return observed_effect(
        name,
        {
            "processed": F.count(F.when(hit, 1)),
            "passed_through": F.count(F.when(miss, 1)),
        },
    )


def winner_labels(attempts, condition=None) -> dict[str, Column]:
    """Exclusive first-qualifying predicates per attempt — the batch
    face of ``contest.winner`` / ``race.winner`` for the PRIORITY
    (single-projection) connectors: attempt i wins a row iff it
    qualifies and no earlier attempt does, exactly the winner chain
    ``_first_qualifying`` evaluates. Feed the result to
    ``observed_routing`` and collect with
    ``signal=S.CONTEST_WINNER`` for per-attempt win counts.
    ``condition`` is the contest's winning predicate over an
    attempt's updates; omit it for race/fallback semantics."""
    from pyspark.sql import functions as F

    from ..core.errors import is_ok

    labels: dict[str, Column] = {}
    prior = F.lit(False)
    for a in attempts:
        q = a.ok() if condition is None else (a.ok() & condition(a.updates))
        q = F.coalesce(q, F.lit(False))
        # already-errored rows never reach the winner chain
        # (_first_qualifying stages no winner for them) — keep the
        # observed counts identical to the actual routing
        labels[a.name] = is_ok() & q & ~prior
        prior = prior | q
    return labels


def observed_concurrent(
    name: str,
    branches,
    reducer=None,
):
    """A ``concurrent`` connector paired with a completion
    observation — the aggregate face of ``concurrent.completed``
    (signals.go:96-100). The observation counts the rows every branch
    processed; after the action, ``collect_observation(obs, name,
    signal=S.CONCURRENT_COMPLETED)`` publishes ``rows``. Returns
    ``(sequence_step, obs)``; fresh pair per run, like every
    Observation."""
    from pyspark.sql import functions as F

    from ..operators.connectors import concurrent, sequence

    conc = concurrent(name, branches, reducer)
    obs_step, obs = observed_effect(
        f"{name}-completed", {"rows": F.count(F.lit(1))}
    )
    return sequence(f"{name}-observed", conc, obs_step), obs
