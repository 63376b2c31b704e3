"""events_stream: an open-loop stream.

A separate generator process (``stream_gen.py``) drops seeded event files
into a source directory on a fixed schedule, at a few fixed rates one
after another. The system under test is ``dedupe_stream`` (state store)
→ ``run_step_stream`` with an ``apply`` (JSON validate) → ``switch`` step,
a ``CircuitBreaker`` and ``RateLimiter`` whose state is checkpointed every
micro-batch, a dead-letter sink, and an ``append_log_sink`` landing that
is read back with ``read_latest``. Per-trigger overhead, state commits and
the per-batch resilience snapshot dominate; the batch workloads never
touch them.

An event's latency runs from its scheduled send time to the moment the
micro-batch holding it has committed its landing write (recorded by the
benchmark's own ok sink), so a stall also delays every event due during it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
from pyspark.sql import functions as F

from pipz_spark import P
from pipz_spark.control import CircuitBreaker, RateLimiter, SignalBus
from pipz_spark.sources import append_log_sink, flatten_dead_letter, read_latest
from pipz_spark.streaming import dedupe_stream, run_step_stream

import checks
import gen
from harness import SparkCounters, Tracer, du, median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
SCHEMA = ("event_id long, user_id long, event_type string, value long, props string, "
          "sched_ms long, ts timestamp")


class TimedStep:
    """Times each micro-batch's ``Step.apply`` (the compose span)."""

    def __init__(self, step, tracer: Tracer) -> None:
        self.step = step
        self.tracer = tracer

    def apply(self, df, prefix=()):
        t0 = time.perf_counter()
        out = self.step.apply(df, prefix)
        self.tracer.record("core.compose", t0, time.perf_counter())
        return out

    def release_caches(self) -> None:
        self.step.release_caches()


class EventsStream:
    name = "events_stream"

    def __init__(self, cfg: dict, seed: int, work: str, seconds: float) -> None:
        self.cfg = cfg
        self.seed = seed
        self.work = work
        rates = cfg["rates"]
        shares = cfg["phase_shares"]
        self.phases = [(r, seconds * s) for r, s in zip(rates, shares)]
        self.interval = cfg["file_interval_s"]
        self.plan = gen.stream_schedule(self.phases, self.interval)

    # -------------------------------------------------------------- inputs

    def _truth(self, seed: int, plan):
        _, truth = gen.make_event_files(seed, plan, self.cfg["users"], self.cfg["dup_share"],
                                        self.cfg["malformed_share"])
        return truth

    def generate(self) -> None:
        self.truth = self._truth(self.seed, self.plan)
        self.warm_truth = self._truth(self.seed + 1, self.plan)

    # -------------------------------------------------------------- system

    def _start(self, spark, dirs: dict, bus, tracer: Tracer, sink_log: list):
        c = self.cfg
        step = P.sequence(
            "events",
            P.apply("json-valid", error_when=F.get_json_object("props", "$").isNull(),
                    message="malformed props"),
            P.switch("route", F.col("event_type"), {
                "click": {"weight": F.lit(1).cast("long")},
                "view": {"weight": F.lit(0).cast("long")},
                "purchase": {"weight": F.col("value"),
                             "page": F.get_json_object("props", "$.page").cast("long")},
            }),
        )
        if tracer.enabled:
            step = TimedStep(step, tracer)
        landing = append_log_sink(dirs["land"], ["event_id"])

        def ok_sink(df, batch_id: int) -> None:
            t0 = time.perf_counter()
            landing(df.select("event_id", "user_id", "event_type", "value", "sched_ms"),
                    batch_id)
            sink_log.append(("ok", batch_id, t0, time.perf_counter(), time.time()))

        def dead_sink(df, batch_id: int) -> None:
            t0 = time.perf_counter()
            (flatten_dead_letter(df).select("event_id", "_error_message")
             .write.mode("append").parquet(dirs["dead"]))
            sink_log.append(("dead", batch_id, t0, time.perf_counter(), time.time()))

        events = spark.readStream.schema(SCHEMA).parquet(dirs["source"])
        deduped = dedupe_stream(events, keys=["event_id"], watermark=c["watermark"])
        return run_step_stream(
            deduped, step, ok_sink, dead_letter_sink=dead_sink,
            breaker=CircuitBreaker("landing", failure_threshold=3, reset_timeout=30.0, bus=bus),
            limiter=RateLimiter("landing", rate=c["limiter_rate"], burst=c["limiter_rate"],
                                bus=bus),
            checkpoint=dirs["ckpt"], query_name="perfbench-events", bus=bus)

    def _dirs(self, tag: str) -> dict:
        root = os.path.join(self.work, tag)
        shutil.rmtree(root, ignore_errors=True)
        dirs = {k: os.path.join(root, k) for k in ("source", "ckpt", "land", "dead")}
        os.makedirs(dirs["source"])
        return dirs

    @staticmethod
    def _wait_idle(q, timeout: float = 60.0) -> None:
        """Wait until the query has started and is waiting for data."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            st = q.status
            if st["isDataAvailable"] is False and not st["isTriggerActive"] \
                    and st["message"].startswith("Waiting for data"):
                return
            time.sleep(0.02)
        raise TimeoutError("stream did not start")

    def _read_back(self, spark, dirs: dict):
        """Per-user totals through the program's read_latest, plus the
        landed and dead-lettered ids."""
        latest = read_latest(spark, dirs["land"], ["event_id"])
        totals = [tuple(r) for r in latest.groupBy("user_id").agg(
            F.count("*").cast("long"), F.sum("value").cast("long")).collect()]
        landed = {r[0] for r in latest.select("event_id").collect()}
        dead = set()
        if os.path.isdir(dirs["dead"]):
            dead = {r[0] for r in spark.read.parquet(dirs["dead"]).select("event_id").collect()}
        return totals, landed, dead

    def warm(self, session):
        """The measured schedule, open loop, on other events: the measured
        run then starts on a JVM that has run every per-trigger path at
        every batch size it will see. After a warm-up at the nominal rate
        alone, or on a backlog drained one file per trigger, the first
        measured run was up to half again slower than the next."""
        run = self._run(session, Tracer(False), self.seed + 1, self.plan, "warm")

        def check() -> list[str]:
            self._finish(session.spark, run, self.warm_truth)
            return run["run_failures"] + run["check_failures"]

        return check

    # -------------------------------------------------------------- measure

    def measure(self, session, seconds: float, trace: bool) -> dict:
        def run(tracer: Tracer) -> dict:
            out = self._run(session, tracer, self.seed, self.plan, "run")
            self._finish(session.spark, out, self.truth)
            return out

        plain = run(Tracer(False))
        out = self._summarize(plain)
        if trace:
            tracer = Tracer(True)
            traced = run(tracer)
            more = self._summarize(traced)
            out["attempted"] += more["attempted"]
            out["failed"] += more["failed"]
            out["failures"] += more["failures"]
            out["layer"] = self._layer(traced, tracer, plain, out["detail"])
            out["trace"] = tracer.record_of()
        return out

    def _run(self, session, tracer: Tracer, seed: int, plan, tag: str) -> dict:
        """One open-loop run of ``plan``: start the system, let the
        generator drop every file on schedule, wait until all of it has
        landed, stop. Reading back and checking the output is left to
        ``_finish``, outside the caller's timer."""
        spark = session.spark
        dirs = self._dirs(tag)
        bus = SignalBus()
        tracer.subscribe(bus)
        counters = SparkCounters(spark) if tracer.enabled else None
        sink_log: list = []
        q = self._start(spark, dirs, bus, tracer, sink_log)
        run_failures: list[str] = []
        spec_path = os.path.join(self.work, f"{tag}-gen-spec.json")
        log_path = os.path.join(self.work, f"{tag}-gen-log.jsonl")
        try:
            self._wait_idle(q)
            mark = counters.mark() if counters else None
            spec = {"seed": seed, "plan": plan, "users": self.cfg["users"],
                    "dup_share": self.cfg["dup_share"],
                    "malformed_share": self.cfg["malformed_share"],
                    "lead_s": self.cfg["generator_lead_s"]}
            with open(spec_path, "w") as f:
                json.dump(spec, f)
            cpu0, py0 = session.tree.cpu()
            session.reset_peaks()
            gen_proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "stream_gen.py"), spec_path,
                 dirs["source"], log_path])
            try:
                gen_proc.wait(timeout=plan[-1][0] + 60.0)
            finally:
                if gen_proc.poll() is None:
                    gen_proc.kill()
                    gen_proc.wait()
            if gen_proc.returncode != 0:
                run_failures.append(f"generator exited with {gen_proc.returncode}")
            q.processAllAvailable()
            cpu1, py1 = session.tree.cpu()
            peak = session.tree.peak_rss_mb()
            old_gen = session.old_gen_peak_mb()
        finally:
            q.stop()
        if q.exception() is not None:
            run_failures.append(f"stream failed: {q.exception()}")
        with open(log_path) as f:
            gen_log = [json.loads(line) for line in f]
        return {"cpu_s": cpu1 - cpu0, "python_cpu_s": py1 - py0, "peak_rss_mb": peak,
                "old_gen_peak_mb": old_gen,
                "progress": [json.loads(p.json) for p in q.recentProgress],
                "layer": counters.since(mark) if counters else {},
                "gen_log": gen_log, "sink_log": sink_log, "run_failures": run_failures,
                "dirs": dirs}

    def _finish(self, spark, run: dict, truth) -> None:
        """Read the run's landing back, check it, and note where each event
        first landed; then remove the run's directories."""
        dirs = run["dirs"]
        totals, landed, dead = self._read_back(spark, dirs)
        run["check_failures"] = checks.check_events(dirs["source"], totals, landed, dead, truth)
        con = checks._connect()
        run["first"] = con.execute(
            f"SELECT event_id, min(_batch_id), min(sched_ms) FROM "
            f"{checks._parquet(dirs['land'])} GROUP BY event_id").fetchnumpy()
        run.update({"landed": len(landed), "dead": len(dead),
                    "bytes_written": du(dirs["land"]) + du(dirs["dead"])})
        shutil.rmtree(os.path.dirname(dirs["source"]), ignore_errors=True)

    def _landings(self, run: dict):
        """Per landed event: latency (ms) and the file that carried it;
        per file: the time its events became visible in the landing."""
        commit = {b: wall for kind, b, _, _, wall in run["sink_log"] if kind == "ok"}
        first = run["first"]
        sched = first["min(sched_ms)"].astype(np.float64)
        committed = np.array([commit[int(b)] for b in first["min(_batch_id)"]])
        start = run["gen_log"][0]["due"]
        files = np.rint((sched / 1000.0 - start) / self.interval).astype(int)
        landed_at = dict(zip(files.tolist(), committed.tolist()))
        return committed * 1000.0 - sched, files, landed_at

    def _backlog(self, run: dict, landed_at: dict) -> list[int]:
        """Files visible to the source but not yet landed, at each file drop."""
        log = run["gen_log"]
        return [sum(1 for h in log if h["visible"] <= g["visible"]
                    and landed_at.get(h["file"], float("inf")) > g["visible"])
                for g in log]

    def _latency(self, run: dict) -> dict:
        """Event-to-landing latency at the nominal rate, each offered
        rate's latency and backlog, the highest rate sustained, and how
        late the generator ran."""
        lat, files, landed_at = self._landings(run)
        phase_of_event = np.array([self.plan[f][2] for f in files.tolist()])
        backlog = self._backlog(run, landed_at)
        phases = []
        for p, (rate, _) in enumerate(self.phases):
            sel = lat[phase_of_event == p]
            idx = [i for i, g in enumerate(run["gen_log"]) if self.plan[g["file"]][2] == p]
            drops = [run["gen_log"][i] for i in idx]
            b = [backlog[i] for i in idx]
            first_landing = min(landed_at.get(g["file"], float("inf")) for g in drops)
            growing = _growing([(g["visible"], n) for g, n in zip(drops, b)
                                if g["visible"] >= first_landing])
            p99 = percentile(sel, 99) if len(sel) else float("inf")
            span = drops[-1]["visible"] - drops[0]["visible"] + self.interval
            phases.append({"rate": rate, "achieved": sum(g["events"] for g in drops) / span,
                           "p50_ms": median(sel), "p99_ms": p99, "backlog_max": max(b),
                           "growing": growing,
                           "ok": p99 <= self.cfg["latency_limit_ms"] and not growing})
        sustainable = 0.0  # rates rise phase by phase; the first miss ends the sweep
        for ph in phases:
            if not ph["ok"]:
                break
            sustainable = ph["achieved"]
        nominal = lat[phase_of_event == 0]
        late = [1000.0 * (g["visible"] - g["due"]) for g in run["gen_log"]]
        return {"stream.latency_ms_p50": median(nominal),
                "stream.latency_ms_p99": percentile(nominal, 99),
                "stream.latency_samples": len(nominal),
                "stream.sustainable_eps": sustainable,
                "streaming.backlog_files_max": max(backlog),
                "generator.late_ms_p50": median(late),
                "generator.late_ms_max": max(late),
                "phases": phases}

    def _summarize(self, run: dict) -> dict:
        busy = [p for p in run["progress"] if p["numInputRows"] > 0]
        busy_s = sum(p["durationMs"]["triggerExecution"] for p in busy) / 1000.0
        return {
            # operations: every micro-batch, the run itself and its output check
            "attempted": len(run["progress"]) + 2,
            "failed": bool(run["run_failures"]) + bool(run["check_failures"]),
            "failures": run["run_failures"] + run["check_failures"],
            "e2e": {
                "rows_per_s": sum(p["numInputRows"] for p in busy) / busy_s,
                "cpu_s": run["cpu_s"],
                "peak_rss_mb": run["peak_rss_mb"],
                "old_gen_peak_mb": run["old_gen_peak_mb"],
            },
            "detail": self._latency(run),
        }

    def _layer(self, run: dict, tracer: Tracer, plain: dict, latency: dict) -> dict:
        """Per-layer readings of the traced run; latency, backlog and the
        generator's lateness come from the untraced run beside it."""
        prog = [p for p in run["progress"] if p["numInputRows"] > 0]
        trig = [p["durationMs"]["triggerExecution"] for p in prog]
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        sinks: dict[int, float] = {}
        for _, b, t0, t1, _ in run["sink_log"]:
            sinks[b] = sinks.get(b, 0.0) + (t1 - t0) * 1000.0
        guard = [p["durationMs"].get("addBatch", 0) - sinks.get(p["batchId"], 0.0)
                 for p in prog]
        state = [op for p in run["progress"] for op in p.get("stateOperators", [])]
        plain_trig = [p["durationMs"]["triggerExecution"] for p in plain["progress"]
                      if p["numInputRows"] > 0]
        layer = dict(run["layer"])
        layer.update({
            "trace.overhead_s": (median(trig) - median(plain_trig)) / 1000.0,
            "core.compose_s": median(tracer.durations("core.compose")),
            "core.ok_rows": run["landed"],
            "core.dead_letter_rows": run["dead"],
            "functions.python_cpu_s": run["python_cpu_s"],
            "sources.write_s": sum(t1 - t0 for _, _, t0, t1, _ in run["sink_log"]),
            "sources.bytes_written": run["bytes_written"],
            "sources.sink_ms_p50": median(1000.0 * (t1 - t0) for _, _, t0, t1, _ in run["sink_log"]),
            "streaming.batches": len(run["progress"]),
            "streaming.rows_per_batch": median(p["numInputRows"] for p in prog),
            "streaming.trigger_ms_p50": median(trig),
            "streaming.add_batch_ms_p50": median(add),
            "streaming.overhead_ms_p50": median(t - a for t, a in zip(trig, add)),
            "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.state_commit_ms": median(op["commitTimeMs"] for op in state),
            "control.guard_ms_p50": median(guard),
            "control.limiter_waits": tracer.signals["ratelimiter.throttled"],
            "control.breaker_opens": tracer.signals["circuitbreaker.opened"],
            "control.retry_attempts": tracer.signals["retry.attempt-fail"],
        })
        layer.update({k: v for k, v in latency.items() if k != "phases"})
        return layer


def _growing(samples: list[tuple[float, int]]) -> bool:
    """Whether a backlog sampled as (time, files) grows. Micro-batches land
    files in bursts, so the backlog is a saw tooth; it grows when its
    least-squares trend rises over the samples by more than half the
    tooth's height. Samples before a phase's first landing are left out
    by the caller: a stream starting from idle fills its first tooth.
    Fewer than three teeth tell no trend from the saw, so they never
    count as growth."""
    t = np.array([s[0] for s in samples])
    n = np.array([s[1] for s in samples], dtype=np.float64)
    if int((np.diff(n) < 0).sum()) < 3:
        return False
    rise = np.polyfit(t, n, 1)[0] * (t[-1] - t[0])
    return bool(rise > (n.max() - n.min()) / 2.0)
