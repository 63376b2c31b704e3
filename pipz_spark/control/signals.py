"""Driver-side signal bus — mirror of the reference's capitan-based
observability (signals.go:7-137 signal names, :141-201 field keys).

In pipz every connector emits typed signals (retry.attempt,
circuitbreaker.opened, ratelimiter.throttled, ...) to an async bus.
Here the data plane is Spark (its own metrics live in the Spark UI /
QueryExecutionListener); the CONTROL plane is driver-side Python, so
its signals are a plain synchronous registry — deterministic,
testable, zero dependencies. Handlers must be cheap; a slow consumer
belongs on its own thread.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable
from typing import Any

# Signal names (mirror of signals.go:7-137)
RETRY_ATTEMPT_START = "retry.attempt-start"
RETRY_ATTEMPT_FAIL = "retry.attempt-fail"
RETRY_EXHAUSTED = "retry.exhausted"
BACKOFF_WAITING = "backoff.waiting"
TIMEOUT_TRIGGERED = "timeout.triggered"
BREAKER_OPENED = "circuitbreaker.opened"
BREAKER_CLOSED = "circuitbreaker.closed"
BREAKER_HALF_OPEN = "circuitbreaker.half-open"
BREAKER_REJECTED = "circuitbreaker.rejected"
LIMITER_ALLOWED = "ratelimiter.allowed"
LIMITER_THROTTLED = "ratelimiter.throttled"
LIMITER_DROPPED = "ratelimiter.dropped"
POOL_SATURATED = "workerpool.saturated"
POOL_ACQUIRED = "workerpool.acquired"
POOL_RELEASED = "workerpool.released"
SCAFFOLD_DISPATCHED = "scaffold.dispatched"
RACE_WINNER = "race.winner"
FALLBACK_ATTEMPT = "fallback.attempt"
FALLBACK_FAILED = "fallback.failed"
SEQUENCE_COMPLETED = "sequence.completed"
PIPELINE_STARTED = "pipeline.started"
PIPELINE_COMPLETED = "pipeline.completed"
# Data-plane signals (signals.go:7-137 names switch.routed,
# handle.error-handled, ...): in a batch engine these are aggregate
# counts, observable only when an ACTION materializes them — so they
# emit from the terminal boundaries (the landing shared by write_split
# and run_step_stream — write_split's counts ride its own ok write;
# handle's eager handler drive) and from the observation bridge
# (observe.observed_routing), never per row.
HANDLE_ERROR_HANDLED = "handle.error-handled"
SWITCH_ROUTED = "switch.routed"
FILTER_EVALUATED = "filter.evaluated"
CONCURRENT_COMPLETED = "concurrent.completed"
CONTEST_WINNER = "contest.winner"

Handler = Callable[[str, dict[str, Any]], None]


class SignalBus:
    def __init__(self) -> None:
        self._handlers: dict[str, list[Handler]] = defaultdict(list)
        self._all: list[Handler] = []

    def on(self, signal: str, handler: Handler) -> None:
        self._handlers[signal].append(handler)

    def on_any(self, handler: Handler) -> None:
        self._all.append(handler)

    def has_listeners(self, signal: str) -> bool:
        """True if emitting ``signal`` would reach any handler — lets
        emitters skip COSTLY field computation (e.g. a Spark count)
        when nobody is listening."""
        return bool(self._handlers.get(signal)) or bool(self._all)

    def has_direct_listeners(self, signal: str) -> bool:
        """True only for handlers subscribed to ``signal`` BY NAME.
        Emitters whose counts cost a Spark job (``handle``'s and a
        stream's, over caller code no count can ride) gate on this, so
        a generic ``on_any`` logger doesn't silently add a job to every
        apply — opting into the cost means naming the signal."""
        return bool(self._handlers.get(signal))

    def emit(self, signal: str, **fields: Any) -> None:
        for h in self._handlers.get(signal, ()):
            try:
                h(signal, fields)
            except Exception:
                pass  # observer failures never break the pipeline
        for h in self._all:
            try:
                h(signal, fields)
            except Exception:
                pass

    def clear(self) -> None:
        self._handlers.clear()
        self._all.clear()


BUS = SignalBus()
