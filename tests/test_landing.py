"""The one landing path shared by ``write_split`` and ``run_step_stream``:
``write_split``'s ok/dead-letter counts ride its own ok write, and a
stream's counts are exact whatever action its caller-supplied sinks
run (a partial one, or none), without ever hanging a trigger."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from pipz_spark import P
from pipz_spark.control import signals as S
from pipz_spark.control.resilience import CircuitBreaker
from pipz_spark.control.signals import SignalBus
from pipz_spark.sources.sinks import write_split
from pipz_spark.streaming import run_step_stream


def _gate():
    """Dead-letters every id divisible by 5."""
    return P.apply("gate", error_when=F.col("id") % 5 == 0, message="five")


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran), counted by job group."""
    sc = spark.sparkContext
    group = f"landing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_split_runs_one_job_per_write(spark, tmp_path):
    out = _gate()(spark.range(100))
    counts, jobs = _jobs(
        spark, lambda: write_split(out, str(tmp_path / "ok"), str(tmp_path / "dead"))
    )
    assert counts == {"ok": 80, "dead_letter": 20}
    assert jobs == 2
    counts, jobs = _jobs(spark, lambda: write_split(out, str(tmp_path / "ok_only")))
    assert counts == {"ok": 80}
    assert jobs == 1
    assert spark.read.parquet(str(tmp_path / "ok_only")).count() == 80
    assert spark.read.parquet(str(tmp_path / "dead")).count() == 20


def test_write_split_counts_a_skipped_ignore_write(spark, tmp_path):
    # mode="ignore" over an existing path runs no query for the write
    # to carry counts on; the frame's counts still come back
    out = _gate()(spark.range(100))
    ok, dead = str(tmp_path / "ok"), str(tmp_path / "dead")
    assert write_split(out, ok, dead) == {"ok": 80, "dead_letter": 20}
    assert write_split(out, ok, dead, mode="ignore") == {"ok": 80, "dead_letter": 20}
    assert write_split(out, ok, mode="ignore") == {"ok": 80}


def test_write_split_counts_an_empty_frame(spark, tmp_path):
    counts = write_split(
        _gate()(spark.range(10).where("false")), str(tmp_path / "ok"), str(tmp_path / "dead")
    )
    assert counts == {"ok": 0, "dead_letter": 0}


def _file_stream(spark, tmp_path, n_files=3, rows=20):
    src = tmp_path / "src"
    for i in range(n_files):
        spark.range(i * rows, (i + 1) * rows).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
    return (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )


def _run(q, done, timeout=120.0):
    """Drive ``q`` until ``done()`` holds; a stuck trigger fails the
    test at the deadline instead of hanging it."""
    deadline = time.monotonic() + timeout
    try:
        while not done():
            assert q.exception() is None, q.exception()
            assert time.monotonic() < deadline, "stream made no progress"
            time.sleep(0.2)
    finally:
        q.stop()


def _sinks():
    """ok/dead-letter sinks that record the rows each was handed."""
    sunk: dict[str, dict[int, int]] = {"ok": {}, "dead_letter": {}}

    def sink(side):
        def run(df, batch_id):
            sunk[side][batch_id] = df.count()

        return run

    return sunk, sink("ok"), sink("dead_letter")


def test_run_step_stream_gives_named_and_on_any_listeners_the_sinks_counts(
    spark, tmp_path
):
    sunk, ok_sink, dead_sink = _sinks()
    bus = SignalBus()
    audiences: list[list[dict]] = [[], []]
    bus.on_any(lambda sig, f: audiences[0].append(f))
    bus.on(S.SEQUENCE_COMPLETED, lambda sig, f: audiences[1].append(f))
    q = run_step_stream(
        _file_stream(spark, tmp_path),
        _gate(),
        ok_sink,
        dead_sink,
        checkpoint=str(tmp_path / "ckpt"),
        query_name="pipz-landing-listeners",
        bus=bus,
    )
    _run(q, lambda: len(audiences[1]) >= 3)
    for events in audiences:
        assert len(events) >= 3
        for f in events:
            b = f["batch_id"]
            assert type(f["ok"]) is int and type(f["dead_letter"]) is int
            assert f["ok"] == sunk["ok"][b]
            assert f["dead_letter"] == sunk["dead_letter"][b]
    assert sum(sunk["ok"].values()) == 48
    assert sum(sunk["dead_letter"].values()) == 12


def test_run_step_stream_on_any_only_costs_no_persist_and_no_count(spark, tmp_path):
    # a generic logger sees the completion event but buys no count
    # job and no persist of a single-sink batch
    sc = spark.sparkContext
    baseline = sc._jsc.getPersistentRDDs().size()
    cached: list[int] = []

    def ok_sink(df, batch_id):
        # read after the action: a persisted frame registers its
        # cached RDD only when an action first builds it
        df.count()
        cached.append(sc._jsc.getPersistentRDDs().size())

    bus = SignalBus()
    seen: list[dict] = []
    bus.on_any(lambda sig, f: seen.append(f))
    q = run_step_stream(
        _file_stream(spark, tmp_path),
        _gate(),
        ok_sink,
        checkpoint=str(tmp_path / "ckpt"),
        query_name="pipz-landing-no-persist",
        bus=bus,
    )
    _run(q, lambda: len(seen) >= 3)
    assert cached and set(cached) == {baseline}
    assert all(f["ok"] is None and f["dead_letter"] is None for f in seen)


def _partial_first(df, batch_id):
    # the common skip idiom: a partial action before the full one
    if df.isEmpty():
        return
    df.collect()


def _rdd_only(df, batch_id):
    # runs no SQL action: no QueryExecution ever reports its metrics
    df.foreachPartition(lambda rows: None)


@pytest.mark.parametrize("sink", [_partial_first, _rdd_only], ids=["is_empty_first", "foreach_partition"])
@pytest.mark.parametrize("named", [False, True], ids=["on_any_only", "named"])
def test_run_step_stream_counts_stay_exact_for_any_sink_action(
    spark, tmp_path, sink, named
):
    bus = SignalBus()
    seen: list[dict] = []
    if named:
        bus.on(S.SEQUENCE_COMPLETED, lambda sig, f: seen.append(f))
    else:
        bus.on_any(lambda sig, f: seen.append(f))
    q = run_step_stream(
        _file_stream(spark, tmp_path, n_files=3, rows=40),
        _gate(),
        sink,
        checkpoint=str(tmp_path / "ckpt"),
        query_name=f"pipz-landing-{sink.__name__}",
        bus=bus,
    )
    _run(q, lambda: len(seen) >= 3, timeout=90.0)
    if named:
        assert [(f["ok"], f["dead_letter"]) for f in seen[:3]] == [(32, 8)] * 3
    else:
        assert all(f["ok"] is None and f["dead_letter"] is None for f in seen)


def test_run_step_stream_open_breaker_fails_a_counted_batch(spark, tmp_path):
    # the breaker rejects the batch before the ok sink runs; with a
    # named listener the trigger must fail on the breaker, not wait
    breaker = CircuitBreaker("landing", failure_threshold=1, reset_timeout=9999.0)
    with pytest.raises(RuntimeError):
        breaker.call(lambda: (_ for _ in ()).throw(RuntimeError("down")))
    assert breaker.state == CircuitBreaker.OPEN
    sunk, ok_sink, _ = _sinks()
    bus = SignalBus()
    seen: list[dict] = []
    bus.on(S.SEQUENCE_COMPLETED, lambda sig, f: seen.append(f))
    q = run_step_stream(
        _file_stream(spark, tmp_path, n_files=1),
        _gate(),
        ok_sink,
        breaker=breaker,
        query_name="pipz-landing-breaker",
        bus=bus,
    )
    try:
        # a hung trigger returns False at the deadline: DID NOT RAISE
        with pytest.raises(Exception, match="landing: circuit open"):
            q.awaitTermination(90)
    finally:
        q.stop()
    assert not sunk["ok"] and not seen


def test_run_step_stream_zero_row_trigger_emits_zero_counts(spark, tmp_path):
    bus = SignalBus()
    seen: list[dict] = []
    bus.on(S.SEQUENCE_COMPLETED, lambda sig, f: seen.append(f))
    q = run_step_stream(
        _file_stream(spark, tmp_path, n_files=2).where(F.col("id") < 0),
        _gate(),
        lambda df, batch_id: df.count(),
        lambda df, batch_id: df.count(),
        checkpoint=str(tmp_path / "ckpt"),
        query_name="pipz-landing-empty",
        bus=bus,
    )
    _run(q, lambda: len(seen) >= 2)
    assert [(f["ok"], f["dead_letter"]) for f in seen[:2]] == [(0, 0), (0, 0)]


def test_run_step_stream_never_writes_session_conf(spark, tmp_path, monkeypatch):
    # starting and draining a stream leaves the shared session's conf
    # alone: another thread's query must never plan under values a
    # stream start put there for a while
    from pyspark.sql.conf import RuntimeConfig

    stream = _file_stream(spark, tmp_path)
    sets: list[tuple] = []
    real_set = RuntimeConfig.set

    def record(self, key, value):
        sets.append((key, value))
        real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    sunk, ok_sink, dead_sink = _sinks()
    bus = SignalBus()
    bus.on(S.SEQUENCE_COMPLETED, lambda sig, f: None)
    q = run_step_stream(
        stream,
        _gate(),
        ok_sink,
        dead_sink,
        breaker=CircuitBreaker("landing-conf", failure_threshold=3, reset_timeout=30.0),
        checkpoint=str(tmp_path / "ckpt"),
        query_name="pipz-landing-conf",
        output_mode="append",
        bus=bus,
    )
    _run(q, lambda: sum(sunk["ok"].values()) + sum(sunk["dead_letter"].values()) >= 60)
    assert sets == []
