"""Control-plane connectors — driver-side wrappers around ACTIONS.

SURVEY §4.2/§7.1 M3: the reference's Retry/Backoff/Timeout/
CircuitBreaker/RateLimiter/WorkerPool/Scaffold operate per VALUE; in
Spark the natural unit of failure/latency is the ACTION (a write, a
collect, a foreachBatch micro-batch) — Spark itself already retries
TASKS (spark.task.maxFailures). So these are classes/functions that
wrap a zero-arg callable (the action), preserving the reference's
observable semantics: attempt counts, exponential delays, breaker
state machine with generation counter, token bucket with wait/drop
modes, bounded fan-out with first-error-wins, fire-and-forget.

All are deterministic under an injectable clock/sleep (mirror of the
reference's injectable clock, backoff.go:200-213) so behavioral
tests need no real time.
"""

from __future__ import annotations

import threading
import time as _time
import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any, TypeVar

from ..core.caches import worker_context
from . import signals as S

T = TypeVar("T")


def retry(
    fn: Callable[[], T],
    max_attempts: int,
    name: str = "retry",
    bus: S.SignalBus = S.BUS,
) -> T:
    """Re-run ``fn`` up to max_attempts, same input, no delay
    (retry.go:63-143). Last error propagates."""
    if max_attempts < 1:
        raise ValueError("max_attempts must be >= 1")
    last: Exception | None = None
    for attempt in range(1, max_attempts + 1):
        bus.emit(S.RETRY_ATTEMPT_START, name=name, attempt=attempt)
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — mirror of catching any process error
            last = e
            bus.emit(S.RETRY_ATTEMPT_FAIL, name=name, attempt=attempt, error=str(e))
    bus.emit(S.RETRY_EXHAUSTED, name=name, attempts=max_attempts)
    assert last is not None
    raise last


def backoff(
    fn: Callable[[], T],
    max_attempts: int,
    base_delay: float,
    name: str = "backoff",
    sleep: Callable[[float], None] = _time.sleep,
    bus: S.SignalBus = S.BUS,
) -> T:
    """Retry with exponential delay: base, 2x per failure
    (backoff.go:58-130; delay doubling backoff.go:96-98). ``sleep`` is
    injectable (backoff.go:200-213)."""
    if max_attempts < 1:
        raise ValueError("max_attempts must be >= 1")
    delay = base_delay
    last: Exception | None = None
    for attempt in range(1, max_attempts + 1):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            last = e
            if attempt < max_attempts:
                bus.emit(S.BACKOFF_WAITING, name=name, attempt=attempt, delay=delay)
                sleep(delay)
                delay *= 2
    assert last is not None
    raise last


class ActionTimeout(TimeoutError):
    def __init__(self, name: str, seconds: float) -> None:
        super().__init__(f"{name}: timed out after {seconds}s")
        self.timeout = True


def _cancel_group(spark: Any, group: str) -> None:
    """Cancel a job group, covering FUTURE jobs too where the API
    exists (Spark 3.5+ cancelJobGroupAndFutureJobs): a plain
    cancelJobGroup only reaches jobs active at call time, so an action
    that submits its first job a beat later would run uncancelled."""
    sc = spark.sparkContext
    cancel = getattr(sc, "cancelJobGroupAndFutureJobs", None) or sc.cancelJobGroup
    try:
        cancel(group)
    except Exception:
        pass


def timeout(
    fn: Callable[[], T],
    seconds: float,
    name: str = "timeout",
    spark: Any | None = None,
    bus: S.SignalBus = S.BUS,
) -> T:
    """Hard deadline around an action (timeout.go:61-154): run in a
    DAEMON worker thread, wait ``seconds``; on expiry cancel the Spark
    job group (the distributed analog of ctx cancellation) and raise
    ActionTimeout with the timeout flag set (error.go:22).

    The worker is a daemon thread, not a ThreadPoolExecutor:
    concurrent.futures joins its non-daemon workers at interpreter
    shutdown, so an abandoned never-finishing action (a stuck socket
    read with no spark handle to cancel) would block process exit
    forever (r7 review finding). A daemon thread is reaped with the
    process. Completion races the deadline through one Event, so an
    action finishing in the expiry window is returned (or its real
    exception raised), never misclassified as a timeout."""
    group = f"pipz-timeout-{uuid.uuid4()}"
    outcome: list = []  # [('ok', value)] or [('err', exception)]
    finished = threading.Event()

    def run() -> None:
        try:
            if spark is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
            outcome.append(("ok", fn()))
        except BaseException as e:  # noqa: BLE001 — relayed to the caller
            outcome.append(("err", e))
        finally:
            finished.set()

    worker = threading.Thread(
        target=worker_context().run, args=(run,), name=f"pipz-{name}", daemon=True
    )
    worker.start()
    if not finished.wait(seconds) and not finished.is_set():
        bus.emit(S.TIMEOUT_TRIGGERED, name=name, seconds=seconds)
        if spark is not None:
            _cancel_group(spark, group)
        raise ActionTimeout(name, seconds)
    kind, value = outcome[0]
    if kind == "err":
        raise value
    return value


class CircuitOpenError(RuntimeError):
    pass


class CircuitBreaker:
    """3-state breaker (circuitbreaker.go:14-19): opens after
    ``failure_threshold`` consecutive failures (:250-265), half-opens
    after ``reset_timeout`` (:143-157), closes after
    ``success_threshold`` half-open successes (:224-241). A
    generation counter discards stale results from calls that started
    under an older state (:192-196). Thread-safe; clock injectable."""

    CLOSED, OPEN, HALF_OPEN = "closed", "open", "half-open"

    def __init__(
        self,
        name: str,
        failure_threshold: int = 5,
        reset_timeout: float = 30.0,
        success_threshold: int = 1,
        clock: Callable[[], float] = _time.monotonic,
        bus: S.SignalBus = S.BUS,
    ) -> None:
        self.name = name
        self.failure_threshold = failure_threshold
        self.reset_timeout = reset_timeout
        self.success_threshold = success_threshold
        self._clock = clock
        self._bus = bus
        self._lock = threading.Lock()
        self._state = self.CLOSED
        self._failures = 0
        self._successes = 0
        self._opened_at = 0.0
        self._generation = 0

    # Signals are collected under the (non-reentrant) lock and emitted
    # AFTER it releases — the same discipline RateLimiter.acquire
    # documents: a handler that inspects the breaker (reads .state,
    # calls snapshot()) would otherwise self-deadlock on the lock it
    # is already inside (r7 review finding).

    def _emit_all(self, signals: list[str]) -> None:
        for sig in signals:
            self._bus.emit(sig, name=self.name)

    @property
    def state(self) -> str:
        pending: list[str] = []
        with self._lock:
            self._maybe_half_open(pending)
            st = self._state
        self._emit_all(pending)
        return st

    def _maybe_half_open(self, pending: list[str]) -> None:
        # caller holds the lock; emissions go to ``pending``
        if self._state == self.OPEN and self._clock() - self._opened_at >= self.reset_timeout:
            self._state = self.HALF_OPEN
            self._successes = 0
            self._generation += 1
            pending.append(S.BREAKER_HALF_OPEN)

    def call(self, fn: Callable[[], T]) -> T:
        pending: list[str] = []
        with self._lock:
            self._maybe_half_open(pending)
            rejected = self._state == self.OPEN
            if rejected:
                pending.append(S.BREAKER_REJECTED)
            generation = self._generation
        self._emit_all(pending)
        if rejected:
            raise CircuitOpenError(f"{self.name}: circuit open")
        try:
            result = fn()
        except Exception:
            self._on_failure(generation)
            raise
        self._on_success(generation)
        return result

    def _on_success(self, generation: int) -> None:
        pending: list[str] = []
        with self._lock:
            if generation != self._generation:
                return  # stale call from an older breaker generation
            self._failures = 0
            if self._state == self.HALF_OPEN:
                self._successes += 1
                if self._successes >= self.success_threshold:
                    self._state = self.CLOSED
                    self._generation += 1
                    pending.append(S.BREAKER_CLOSED)
        self._emit_all(pending)

    def _on_failure(self, generation: int) -> None:
        pending: list[str] = []
        with self._lock:
            if generation != self._generation:
                return
            if self._state == self.HALF_OPEN:
                self._trip(pending)
            else:
                self._failures += 1
                if self._failures >= self.failure_threshold:
                    self._trip(pending)
        self._emit_all(pending)

    def _trip(self, pending: list[str]) -> None:
        # caller holds the lock
        self._state = self.OPEN
        self._opened_at = self._clock()
        self._failures = 0
        self._generation += 1
        pending.append(S.BREAKER_OPENED)

    def snapshot(self) -> dict:
        """Serializable state for checkpoint persistence. The open
        timer is stored as REMAINING seconds, not an absolute stamp —
        the clock is monotonic and does not survive a restart; the
        restored breaker re-anchors the remainder on its own clock.
        The reference breaker's state machine lives as long as the
        process (circuitbreaker.go:136-216); the streaming analog
        must outlive a query restart from checkpoint, so its state
        rides with the checkpoint (see run_step_stream)."""
        pending: list[str] = []
        with self._lock:
            self._maybe_half_open(pending)
            remaining = 0.0
            if self._state == self.OPEN:
                remaining = max(
                    0.0, self.reset_timeout - (self._clock() - self._opened_at)
                )
            snap = {
                "state": self._state,
                "failures": self._failures,
                "successes": self._successes,
                "open_remaining": remaining,
            }
        self._emit_all(pending)
        return snap

    def restore(self, snap: dict) -> None:
        """Adopt a snapshot() taken by a previous incarnation. The
        generation bumps so any call that raced the restore is
        discarded as stale. Snapshot contents are VALIDATED, not
        trusted: the file lives on the checkpoint filesystem and a
        corrupted/hand-edited state string would silently degrade a
        tripped breaker to effectively-closed (r7 review finding)."""
        state = snap.get("state", self.CLOSED)
        if state not in (self.CLOSED, self.OPEN, self.HALF_OPEN):
            raise ValueError(f"{self.name}: invalid breaker snapshot state {state!r}")
        with self._lock:
            self._state = state
            self._failures = int(snap.get("failures", 0))
            self._successes = int(snap.get("successes", 0))
            self._generation += 1
            if self._state == self.OPEN:
                remaining = min(
                    float(snap.get("open_remaining", self.reset_timeout)),
                    self.reset_timeout,
                )
                self._opened_at = self._clock() - (self.reset_timeout - remaining)
            else:
                self._opened_at = 0.0


class RateLimitExceeded(RuntimeError):
    pass


class RateLimiter:
    """Token bucket (ratelimiter.go:96-160): ``rate`` tokens/sec,
    ``burst`` capacity, refill min(burst, tokens + elapsed*rate)
    (:117-130). ``wait`` mode blocks for a token (:200-241); ``drop``
    mode raises immediately (:243-261). For SOURCE throttling in
    streaming use maxOffsetsPerTrigger/maxFilesPerTrigger — this class
    is for driver-side action pacing (sink calls, API calls in
    foreachBatch)."""

    def __init__(
        self,
        name: str,
        rate: float,
        burst: int,
        mode: str = "wait",
        clock: Callable[[], float] = _time.monotonic,
        sleep: Callable[[float], None] = _time.sleep,
        bus: S.SignalBus = S.BUS,
    ) -> None:
        if mode not in ("wait", "drop"):
            raise ValueError("mode must be 'wait' or 'drop'")
        # rate=0 divides by zero computing the wait; burst<1 can never
        # hold a whole token, so wait mode would sleep-loop forever
        # (r7 review finding)
        if rate <= 0:
            raise ValueError("rate must be > 0 tokens/sec")
        if burst < 1:
            raise ValueError("burst must be >= 1")
        self.name = name
        self.rate = float(rate)
        self.burst = float(burst)
        self.mode = mode
        self._clock = clock
        self._sleep = sleep
        self._bus = bus
        self._lock = threading.Lock()
        self._tokens = float(burst)
        self._last = clock()

    def _refill(self) -> None:
        now = self._clock()
        self._tokens = min(self.burst, self._tokens + (now - self._last) * self.rate)
        self._last = now

    def acquire(self) -> None:
        # signals are emitted OUTSIDE the (non-reentrant) lock so a
        # handler that inspects the limiter can't deadlock, and a
        # post-sleep wake RE-CHECKS for a token instead of deducting
        # with a max(0, ...) clamp — the clamp briefly admitted above
        # the configured rate when several waiters slept concurrently.
        while True:
            with self._lock:
                self._refill()
                if self._tokens >= 1.0:
                    self._tokens -= 1.0
                    signal, needed = S.LIMITER_ALLOWED, 0.0
                elif self.mode == "drop":
                    signal, needed = S.LIMITER_DROPPED, 0.0
                else:
                    signal = S.LIMITER_THROTTLED
                    needed = (1.0 - self._tokens) / self.rate
            if signal is S.LIMITER_ALLOWED:
                self._bus.emit(S.LIMITER_ALLOWED, name=self.name)
                return
            if signal is S.LIMITER_DROPPED:
                self._bus.emit(S.LIMITER_DROPPED, name=self.name)
                raise RateLimitExceeded(f"{self.name}: rate limit exceeded")
            self._bus.emit(S.LIMITER_THROTTLED, name=self.name, wait=needed)
            self._sleep(needed)

    def call(self, fn: Callable[[], T]) -> T:
        self.acquire()
        return fn()

    def snapshot(self) -> dict:
        """Serializable token count for checkpoint persistence
        (refilled to now first, so the snapshot is current)."""
        with self._lock:
            self._refill()
            return {"tokens": self._tokens}

    def restore(self, snap: dict) -> None:
        """Adopt a snapshot() from a previous incarnation. Downtime
        grants NO refill (the refill anchor resets to now): a limiter
        guarding a fragile sink must not greet a restart with a full
        burst it never actually accumulated. Clamped into [0, burst]:
        a corrupted snapshot's huge-negative token count would
        otherwise put wait mode to sleep for its refill-time
        equivalent (r7 review finding)."""
        with self._lock:
            self._tokens = max(
                0.0, min(self.burst, float(snap.get("tokens", self.burst)))
            )
            self._last = self._clock()


def worker_pool(
    actions: Sequence[Callable[[], Any]],
    workers: int,
    name: str = "workerpool",
    task_timeout: float | None = None,
    bus: S.SignalBus = S.BUS,
) -> None:
    """Bounded parallel fan-out (workerpool.go:90-191): run all
    actions with at most ``workers`` in flight; results are discarded;
    the FIRST error wins and propagates (:163-190); optional per-task
    timeout (:155-161). The right home for multi-sink jobs — each
    action is its own Spark job; the pool bounds driver-side
    concurrency while executors parallelize within each job."""
    if workers < 1:
        raise ValueError("workers must be >= 1")
    if len(actions) > workers:
        bus.emit(S.POOL_SATURATED, name=name, queued=len(actions) - workers)

    # "FIRST error wins" means first in COMPLETION order — recorded at
    # raise time under a lock, because wait() returns its `done` set
    # unordered and iterating it would pick an arbitrary failure when
    # several actions fail in the same window.
    first_error: list[Exception] = []
    error_lock = threading.Lock()

    def run(action: Callable[[], Any]) -> None:
        bus.emit(S.POOL_ACQUIRED, name=name)
        try:
            if task_timeout is not None:
                timeout(action, task_timeout, name=f"{name}.task", bus=bus)
            else:
                action()
        except Exception as exc:
            with error_lock:
                if not first_error:
                    first_error.append(exc)
            raise
        finally:
            bus.emit(S.POOL_RELEASED, name=name)

    # exceptions propagate through the futures so FIRST_EXCEPTION
    # genuinely stops early: queued (not-yet-started) actions are
    # cancelled; already-running ones finish (threads can't be
    # preempted) but no new work starts — first error wins
    # (workerpool.go:163-190).
    with ThreadPoolExecutor(max_workers=workers) as ex:
        futs = [ex.submit(worker_context().run, run, a) for a in actions]
        wait(futs, return_when=FIRST_EXCEPTION)
        if first_error:
            for f in futs:
                f.cancel()
    if first_error:
        raise first_error[0]


def race_actions(
    fns: Sequence[Callable[[], T]],
    name: str = "race",
    spark: Any | None = None,
    timeout_seconds: float | None = None,
    bus: S.SignalBus = S.BUS,
) -> T:
    """WALL-CLOCK racing of actions — the true concurrent semantic of
    the reference's Race (race.go:66-159: first success wins, losers
    canceled) for multi-source reads, complementing the deterministic
    priority-order batch semantic of operators.race (SURVEY §7.3.3).
    Each action runs in its own DAEMON thread under its own Spark job
    group; the first SUCCESS cancels the rest (job-group cancel = the
    ctx cancellation analog, race.go:123); all-fail raises the last
    error (race.go:143-157); ``timeout_seconds`` expiry cancels EVERY
    group and raises ActionTimeout. Daemon threads so an abandoned
    loser can never block interpreter shutdown."""
    if not fns:
        raise ValueError("race_actions needs at least one action")
    import queue

    groups = [f"pipz-race-{uuid.uuid4()}" for _ in fns]
    canceled = threading.Event()
    outcomes: "queue.Queue[tuple[int, str, Any]]" = queue.Queue()

    def run(i: int) -> None:
        # ORDER MATTERS for loser cancellation: the job-group property
        # is set BEFORE the canceled check, and the canceller sets the
        # event BEFORE cancelling groups — so a loser thread either
        # sees the event and never runs its action, or has its group
        # property in place when the (future-jobs-inclusive, see
        # _cancel_group) cancellation lands (r7 review finding: the
        # old code could cancel a group before its thread had set the
        # property, orphaning every job it submitted afterwards).
        try:
            if spark is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", groups[i])
            if canceled.is_set():
                outcomes.put((i, "skipped", None))
                return
            outcomes.put((i, "ok", fns[i]()))
        except BaseException as e:  # noqa: BLE001 — relayed to the caller
            outcomes.put((i, "err", e))

    threads = [
        threading.Thread(
            target=worker_context().run, args=(run, i), name=f"pipz-{name}-{i}", daemon=True
        )
        for i in range(len(fns))
    ]
    for t in threads:
        t.start()
    deadline = (
        _time.monotonic() + timeout_seconds if timeout_seconds is not None else None
    )
    last_error: Exception | None = None
    settled = 0
    while settled < len(fns):
        remaining = None if deadline is None else deadline - _time.monotonic()
        try:
            if remaining is not None and remaining <= 0:
                raise queue.Empty
            i, kind, value = outcomes.get(timeout=remaining)
        except queue.Empty:
            # deadline expired with no winner: cancel EVERY group (the
            # docstring's promise — the old code leaked all of them
            # and let a raw concurrent.futures.TimeoutError escape)
            bus.emit(S.TIMEOUT_TRIGGERED, name=name, seconds=timeout_seconds)
            canceled.set()
            if spark is not None:
                for g in groups:
                    _cancel_group(spark, g)
            raise ActionTimeout(name, timeout_seconds) from None
        settled += 1
        if kind == "ok":
            bus.emit(S.RACE_WINNER, name=name, winner=i)
            canceled.set()
            if spark is not None:
                for j, g in enumerate(groups):
                    if j != i:
                        _cancel_group(spark, g)
            return value
        if kind == "err":
            last_error = value
    assert last_error is not None
    raise last_error


def fallback_actions(
    fns: Sequence[Callable[[], T]],
    name: str = "fallback",
    bus: S.SignalBus = S.BUS,
) -> T:
    """Declaration-order fallback for driver ACTIONS (fallback.go:
    59-144): try each in order, return the first success; emits
    ``fallback.attempt`` before each try and ``fallback.failed`` on
    each failure; all-fail raises the LAST error (fallback.go:131).
    The action-level complement of the per-row ``operators.fallback``
    (which selects per value in one projection and cannot observe
    attempt-level events) — e.g. read the primary source, fall back to
    the replica."""
    if not fns:
        raise ValueError("fallback_actions needs at least one action")
    last_error: Exception | None = None
    for i, fn in enumerate(fns):
        bus.emit(S.FALLBACK_ATTEMPT, name=name, attempt=i)
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            last_error = e
            bus.emit(S.FALLBACK_FAILED, name=name, attempt=i, error=str(e))
    assert last_error is not None
    raise last_error


def scaffold(
    actions: Sequence[Callable[[], Any]],
    name: str = "scaffold",
    bus: S.SignalBus = S.BUS,
) -> None:
    """Fire-and-forget (scaffold.go:69-107): launch every action on a
    daemon thread detached from the caller (the analog of
    context.WithoutCancel, scaffold.go:82); errors silently dropped
    (:91-94). Returns immediately."""

    def run(action: Callable[[], Any]) -> None:
        try:
            action()
        except Exception:
            pass

    for a in actions:
        t = threading.Thread(target=worker_context().run, args=(run, a), daemon=True)
        t.start()
        bus.emit(S.SCAFFOLD_DISPATCHED, name=name)
