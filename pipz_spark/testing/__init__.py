"""Test utilities for pipz_spark pipelines — the engine's public
testing face, mirroring the reference's testing package
(testing/helpers.go:38-385: MockProcessor, ChaosProcessor, assertion
helpers), re-expressed for the two planes of this engine:

* **Data plane** (Steps over DataFrames): ``MockStep`` tracks applies
  and returns configurable output; ``chaos_step`` injects
  DETERMINISTIC row-level failures into the error column (seeded
  content-hash selection — reproducible across runs, partitionings
  and cluster sizes, unlike the reference's math/rand draw which is
  seeded per-process).
* **Control plane** (driver-side actions): ``ChaosAction`` fails the
  first N calls then succeeds; ``FlakyAction`` fails on a seeded
  schedule; ``FakeClock`` makes time-dependent connectors (breaker,
  limiter, backoff) testable without wall-clock sleeps.

Example::

    from pipz_spark.testing import MockStep, assert_processed

    mock = MockStep("validate").with_updates({"ok": F.lit(True)})
    out = P.sequence("pipe", mock)(df)
    assert_processed(mock, 1)
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.errors import ERROR_COL, make_error, split_failed
from ..core.step import Step
from ..operators.processors import _guarded

__all__ = [
    "ChaosAction",
    "FakeClock",
    "FlakyAction",
    "MockStep",
    "assert_dead_letters",
    "assert_df_equal",
    "assert_no_dead_letters",
    "assert_not_processed",
    "assert_processed",
    "assert_processed_between",
    "chaos_step",
]


@dataclass
class MockCall:
    """One recorded apply (MockCall, helpers.go:55-59). The input is
    the lazy DataFrame — inspect ``.count()``/``.columns`` in the
    test, where an action is acceptable."""

    input: DataFrame
    path: tuple[str, ...]
    timestamp: float = field(default_factory=_time.time)


class MockStep(Step):
    """Configurable mock Step (MockProcessor, helpers.go:38-215):
    counts applies, records inputs, and returns either the input
    unchanged (default), configured column updates, or rows failed
    via the error column.

    Spark divergence, by design: the reference's mock REPLACES the
    value with ``returnVal``; a DataFrame mock instead applies column
    updates — "replace the whole value" has no meaning for a
    distributed batch, updating columns is the Step algebra's unit.
    ``with_delay`` sleeps on the DRIVER at compose time (useful with
    ``timeout``/``race_actions``); ``with_raise`` raises at apply —
    the panic analog (helpers.go:96-101).
    """

    def __init__(self, name: str = "mock", max_history: int = 100) -> None:
        super().__init__(name, self._run, node_type="mock")
        self._updates: dict[str, Column] | None = None
        self._error_when: Column | None = None
        self._error_message = "mock failure"
        self._delay = 0.0
        self._raise: str | None = None
        self._max_history = max_history
        self.calls: list[MockCall] = []

    # -- fluent config (WithReturn/WithDelay/WithPanic) ---------------
    def with_updates(self, updates: dict[str, Column]) -> "MockStep":
        self._updates = dict(updates)
        return self

    def with_error_when(self, cond: Column, message: str = "mock failure") -> "MockStep":
        self._error_when = cond
        self._error_message = message
        return self

    def with_delay(self, seconds: float) -> "MockStep":
        self._delay = float(seconds)
        return self

    def with_raise(self, message: str) -> "MockStep":
        self._raise = message
        return self

    def with_history_size(self, size: int) -> "MockStep":
        self._max_history = size
        del self.calls[: max(0, len(self.calls) - size)]
        return self

    # -- inspection (CallCount/LastInput/CallHistory/Reset) -----------
    @property
    def call_count(self) -> int:
        return self._count

    @property
    def last_input(self) -> DataFrame | None:
        return self.calls[-1].input if self.calls else None

    def reset(self) -> "MockStep":
        self.calls.clear()
        self._count = 0
        return self

    _count = 0

    def _run(self, df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        self._count += 1
        if self._max_history:
            self.calls.append(MockCall(df, path))
            del self.calls[: max(0, len(self.calls) - self._max_history)]
        if self._delay:
            _time.sleep(self._delay)
        if self._raise is not None:
            raise RuntimeError(self._raise)
        out = _guarded(df, self._updates or {})
        if self._error_when is None:
            return out
        err = make_error(path, self._error_message)
        return _guarded(out, {}, fail_when=self._error_when, error=err)


def chaos_step(
    name: str = "chaos",
    failure_rate: float = 0.1,
    key_col: str | Column | None = None,
    salt: str = "chaos",
    message: str = "chaos: injected failure",
    delay_seconds: float = 0.0,
) -> Step:
    """Chaos injection for the data plane (ChaosProcessor,
    helpers.go:257-385): a seeded ``failure_rate`` fraction of OK rows
    gets a dead-letter error. Selection is a content hash of
    ``key_col`` (default: a hash of the whole row), so the SAME rows
    fail on every run — chaos you can assert on and bisect, where the
    reference draws from math/rand per call. ``delay_seconds`` adds a
    driver-side latency injection (helpers.go LatencyRate analog)."""
    if not 0.0 <= failure_rate <= 1.0:
        raise ValueError("failure_rate must be in [0, 1]")
    cut = int(round(failure_rate * 10000))

    def fn(df: DataFrame, path: tuple[str, ...]) -> DataFrame:
        if delay_seconds:
            _time.sleep(delay_seconds)
        if key_col is None:
            key = F.hash(*[F.col(c) for c in df.columns if c != ERROR_COL])
        elif isinstance(key_col, str):
            key = F.col(key_col)
        else:
            key = key_col
        key_str = F.coalesce(key.cast("string"), F.lit("__pipz_null__"))
        bucket = (
            F.conv(F.substring(F.md5(F.concat(key_str, F.lit(salt))), 1, 8), 16, 10)
            .cast("long") % 10000
        )
        return _guarded(df, {}, fail_when=bucket < cut, error=make_error(path, message))

    return Step(name, fn, node_type="chaos", metadata={"failure_rate": failure_rate})


# -- control-plane fakes (driver-side actions) ------------------------
class ChaosAction:
    """Deterministic fault injector for driver actions: fails the
    first ``fail_n`` calls, then succeeds — the seeded-failure analog
    of ChaosProcessor (helpers.go:257-385) for retry/breaker tests."""

    def __init__(self, fail_n: int = 0, value: str = "ok"):
        self.fail_n = fail_n
        self.value = value
        self.calls = 0

    def __call__(self):
        self.calls += 1
        if self.calls <= self.fail_n:
            raise RuntimeError(f"chaos failure #{self.calls}")
        return self.value


class FlakyAction:
    """Fails on a fixed schedule of call indices (1-based) — for
    asserting which attempt succeeds under retry/backoff."""

    def __init__(self, fail_on: set[int], value: str = "ok"):
        self.fail_on = set(fail_on)
        self.value = value
        self.calls = 0

    def __call__(self):
        self.calls += 1
        if self.calls in self.fail_on:
            raise RuntimeError(f"flaky failure #{self.calls}")
        return self.value


class FakeClock:
    """Injectable clock+sleep for CircuitBreaker/RateLimiter/backoff:
    sleeping advances virtual time, so timeout/refill behavior is
    testable instantly and deterministically."""

    def __init__(self):
        self.t = 0.0
        self.sleeps: list[float] = []

    def now(self) -> float:
        return self.t

    def sleep(self, dt: float) -> None:
        self.sleeps.append(dt)
        self.t += dt


# -- assertion helpers (helpers.go:214-255) ---------------------------
def assert_processed(mock: MockStep, expected_calls: int) -> None:
    """The mock was applied exactly ``expected_calls`` times."""
    assert mock.call_count == expected_calls, (
        f"{mock.name}: expected {expected_calls} applies, got {mock.call_count}"
    )


def assert_not_processed(mock: MockStep) -> None:
    assert_processed(mock, 0)


def assert_processed_between(mock: MockStep, min_calls: int, max_calls: int) -> None:
    assert min_calls <= mock.call_count <= max_calls, (
        f"{mock.name}: expected {min_calls}..{max_calls} applies, got {mock.call_count}"
    )


def assert_no_dead_letters(df: DataFrame) -> None:
    """No rows carry an error (action: counts the failed split)."""
    n = split_failed(df).count()
    assert n == 0, f"expected no dead letters, found {n}"


def assert_dead_letters(df: DataFrame, expected: int) -> None:
    n = split_failed(df).count()
    assert n == expected, f"expected {expected} dead letters, found {n}"


def assert_df_equal(actual: DataFrame, expected: DataFrame) -> None:
    """Order-insensitive DataFrame equality on column names + values
    (the driver's compare, in-test): sorts columns by name, rows by
    value. Collects both — test-sized data only."""
    a_cols, e_cols = sorted(actual.columns), sorted(expected.columns)
    assert a_cols == e_cols, f"columns differ: {a_cols} vs {e_cols}"
    # key=repr: NULLs make mixed-type tuples unsortable under plain
    # sorted() (None < int raises TypeError — r7 review finding); the
    # repr order is total and deterministic, which is all an
    # order-insensitive compare needs
    a = sorted(map(tuple, actual.select(*a_cols).collect()), key=repr)
    e = sorted(map(tuple, expected.select(*e_cols).collect()), key=repr)
    assert a == e, f"values differ: {a[:5]} vs {e[:5]} (first rows shown)"
