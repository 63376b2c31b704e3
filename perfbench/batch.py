"""The measuring loop shared by the batch workloads.

Runs the workload back to back a fixed number of times, the measuring
time divided by the workload's ``measure_s_per_run``, so every measurement
covers the same runs of a JVM's life (run times fall steeply while the
JIT compiler catches up, and a time-boxed loop would move the median
along that curve). Each run starts on fresh output directories after
``release_caches()``. No run is dropped or repeated by outcome: every
run's wall time, CPU and peak memory go into the medians. In a traced
measurement every other run is traced, so the untraced runs beside them
give the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import time

from pipz_spark.control import SignalBus
from pipz_spark.datapipe import release_caches

from harness import SparkCounters, Tracer, du, median


class BatchWorkload:
    """Base of the batch workloads. A subclass provides ``generate``,
    ``run_once``, ``check`` and ``layer_metrics``, and sets ``rows``,
    ``inputs`` and ``warm_inputs``."""

    def warm(self, session):
        """One pass over the warm-up input (part of set-up); returns the
        check to run on its output once the set-up timer has stopped."""
        out_dir = os.path.join(self.work, "warm")
        info = self.run_once(session.spark, self.warm_inputs, out_dir, SignalBus(),
                             Tracer(False))
        release_caches()

        def check() -> list[str]:
            failures = self.check(info, warm=True)
            shutil.rmtree(out_dir, ignore_errors=True)
            return failures

        return check

    def measure(self, session, seconds: float, trace: bool) -> dict:
        return measure(self, session, seconds, trace)


def measure(wl: BatchWorkload, session, seconds: float, trace: bool) -> dict:
    spark = session.spark
    counters = SparkCounters(spark) if trace else None
    runs: list[dict] = []
    traced_runs: list[dict] = []
    tracer = Tracer(True) if trace else Tracer(False)
    n_runs = max(1, round(seconds / wl.cfg["measure_s_per_run"])) * (2 if trace else 1)
    while len(runs) < n_runs:
        traced = trace and len(runs) % 2 == 1
        run_tracer = tracer if traced else Tracer(False)
        bus = SignalBus()
        run_tracer.subscribe(bus)
        out_dir = os.path.join(wl.work, "runs", str(len(runs)))
        cpu0, py0 = session.tree.cpu()
        session.reset_peaks()
        mark = counters.mark() if traced else None
        t0 = time.perf_counter()
        with run_tracer.span("run"):
            info = wl.run_once(spark, wl.inputs, out_dir, bus, run_tracer)
        wall = time.perf_counter() - t0
        cpu1, py1 = session.tree.cpu()
        rec = {"wall_s": wall, "cpu_s": cpu1 - cpu0, "python_cpu_s": py1 - py0,
               "peak_rss_mb": session.tree.peak_rss_mb(),
               "old_gen_peak_mb": session.old_gen_peak_mb(), "traced": traced}
        if traced:
            rec.update(counters.since(mark))
            rec["bytes_written"] = float(du(out_dir))
            rec.update(wl.layer_metrics(spark, info))
        rec["failures"] = wl.check(info)
        release_caches()
        runs.append(rec)
        if traced:
            traced_runs.append(rec)
        shutil.rmtree(out_dir, ignore_errors=True)
    return summarize(wl, runs, traced_runs, tracer, trace)


def summarize(wl, runs: list[dict], traced: list[dict], tracer: Tracer, trace: bool) -> dict:
    """End-to-end metrics over the untraced runs; per-layer metrics over
    the traced runs."""
    untraced = [r for r in runs if not r["traced"]]
    walls = [r["wall_s"] for r in untraced]
    ops_failed = sum(1 for r in runs if r["failures"])
    out = {
        "runs": runs,
        "attempted": 2 * len(runs),  # each run and its output check
        "failed": 2 * ops_failed,
        "failures": [f for r in runs for f in r["failures"]],
        "e2e": {
            "rows_per_s": wl.rows / median(walls),
            "cpu_s": median(r["cpu_s"] for r in untraced),
            "peak_rss_mb": median(r["peak_rss_mb"] for r in untraced),
            "old_gen_peak_mb": median(r["old_gen_peak_mb"] for r in untraced),
        },
    }
    if not trace:
        return out
    layer = {
        "trace.overhead_s": median(r["wall_s"] for r in traced) - median(walls),
        "core.compose_s": median(_self_time(tracer, "core.compose", "sources.sink")),
        "functions.python_cpu_s": median(r["python_cpu_s"] for r in traced),
        "sources.write_s": median(tracer.durations("sources.write_split")),
        "datapipe.prep_s": median(tracer.durations("datapipe.prep")),
        "datapipe.near_dup_s": median(tracer.durations("datapipe.near_dup")),
        "datapipe.cluster_s": median(tracer.durations("datapipe.cluster")),
        "sources.bytes_written": median(r["bytes_written"] for r in traced),
        "sources.sink_ms_p50": 1000.0 * median(tracer.durations("sources.sink")),
        "control.guard_ms_p50": 1000.0 * median(_self_time(tracer, "control.guard",
                                                           "sources.write_split")),
        "control.limiter_waits": tracer.signals["ratelimiter.throttled"],
        "control.breaker_opens": tracer.signals["circuitbreaker.opened"],
        "control.retry_attempts": max(0, tracer.signals["retry.attempt-start"]
                                      - len(tracer.durations("control.guard"))),
    }
    keys = {k for r in traced for k in r if "." in k}
    for k in sorted(keys):
        layer[k] = median(r[k] for r in traced)
    out["layer"] = layer
    out["trace"] = tracer.record_of()
    return out


def _self_time(tracer: Tracer, name: str, child: str) -> list[float]:
    """Durations of ``name`` spans minus the ``child`` spans inside them."""
    out = []
    for s in tracer.spans:
        if s["name"] != name or s["end"] is None:
            continue
        inner = sum(c["end"] - c["start"] for c in tracer.spans
                    if c["name"] == child and c["end"] is not None
                    and s["start"] <= c["start"] and c["end"] <= s["end"])
        out.append(s["end"] - s["start"] - inner)
    return out
