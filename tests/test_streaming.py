"""Streaming layer tests: windowed aggs match batch results, stateful
ops work, foreachBatch runner splits dead letters and honors the
breaker — all against the real events.parquet via the file source."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from pipz_spark import P
from pipz_spark.control import CircuitBreaker, CircuitOpenError
from pipz_spark.sources.catalog import load_table
from pipz_spark.streaming import (
    dedupe_stream,
    read_events_stream,
    run_step_stream,
    running_totals,
    session_window_agg,
    windowed_agg,
)

SF_DIR = "/root/testdata/sf0.001"


def _run_to_memory(spark, sdf, name, mode="update"):
    q = sdf.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_windowed_agg_matches_batch(spark, events):
    stream = read_events_stream(spark, SF_DIR)
    agg = windowed_agg(
        stream,
        {"n": F.count(F.lit(1)), "total": F.round(F.sum("value"), 2)},
        window="1 hour",
        keys=["event_type"],
    )
    got = _run_to_memory(spark, agg, "hourly_counts")
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("win_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = {(r["win_start"], r["event_type"]): r["n"] for r in got.collect()}
    b = {(r["win_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert g == b


def test_session_window_agg_runs(spark):
    stream = read_events_stream(spark, SF_DIR)
    agg = session_window_agg(
        stream, {"n": F.count(F.lit(1))}, gap="10 minutes", keys=["user_id"]
    )
    got = _run_to_memory(spark, agg, "sessions", mode="complete")
    rows = got.collect()
    assert len(rows) > 0
    assert all(r["win_end"] >= r["win_start"] for r in rows)


def test_dedupe_stream(spark, events):
    stream = read_events_stream(spark, SF_DIR)
    out = _run_to_memory(spark, dedupe_stream(stream, ["user_id"]), "dedup", mode="append")
    assert out.count() == events.select("user_id").distinct().count()


def test_running_totals_stateful(spark, events):
    stream = read_events_stream(spark, SF_DIR)
    out = _run_to_memory(spark, running_totals(stream), "running")
    # final state per user equals the batch aggregate
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    g = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()}
    for r in batch.collect():
        assert g[r["user_id"]][0] == r["n_events"]
        assert abs(g[r["user_id"]][1] - r["total_value"]) < 1e-6


def test_running_totals_null_values_match_batch_sum(spark, tmp_path):
    # a NULL value arrives in pandas as NaN, and np.rint(NaN) cast to
    # int64 is undefined (INT64_MIN in practice) — the accumulator
    # must skip NULLs like batch SUM while n_events stays COUNT(*)
    # (r7 review finding)
    src = str(tmp_path / "null_events")
    spark.createDataFrame(
        [(1, 7, 2.5), (2, 7, None), (3, 7, 1.5)],
        "event_id long, user_id long, value double",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).parquet(src)
    out = _run_to_memory(spark, running_totals(stream), "running_nulls")
    rows = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()}
    assert rows == {7: (3, 4.0)}


def test_run_step_stream_dead_letter_split(spark, events):
    stream = read_events_stream(spark, SF_DIR)
    step = P.apply("validate", error_when=F.col("value") < 0, message="negative value")
    got: dict[str, int] = {"ok": 0, "dead": 0}

    def ok_sink(df, batch_id):
        got["ok"] += df.count()

    def dlq_sink(df, batch_id):
        got["dead"] += df.count()

    with tempfile.TemporaryDirectory() as ckpt:
        q = run_step_stream(stream, step, ok_sink, dlq_sink, checkpoint=ckpt)
        q.processAllAvailable()
        q.stop()
    n_bad = events.where("value < 0").count()
    assert got["dead"] == n_bad
    assert got["ok"] == events.count() - n_bad


def test_run_step_stream_releases_operator_caches_per_batch(spark, tmp_path):
    # token_budget_cap's global form persists its hashed frame through
    # the cache owner, and a dead-letter sink makes run_step_stream
    # persist the batch; both must be freed after every micro-batch,
    # or each trigger leaks cached frames
    from pipz_spark.datapipe import token_budget_cap

    src = tmp_path / "docs"
    for i in range(3):
        spark.range(i * 20, i * 20 + 20).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
        ).coalesce(1).write.parquet(str(src / f"part{i}"))
    stream = (
        spark.readStream.schema("doc_id long, n_tokens long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    batches: list[int] = []

    def ok_sink(df, batch_id):
        df.count()
        batches.append(batch_id)

    sc = spark.sparkContext
    baseline = sc._jsc.getPersistentRDDs().size()
    q = run_step_stream(
        stream,
        token_budget_cap("cap", budget=40),
        ok_sink,
        lambda df, batch_id: df.count(),
        checkpoint=str(tmp_path / "ckpt"),
        query_name="pipz-cache-release-test",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batches) >= 3
    assert sc._jsc.getPersistentRDDs().size() == baseline


def test_run_step_stream_breaker_opens(spark):
    stream = read_events_stream(spark, SF_DIR)
    step = P.transform("noop", {})
    breaker = CircuitBreaker("sink", failure_threshold=1, reset_timeout=9999.0)

    def failing_sink(df, batch_id):
        raise RuntimeError("sink down")

    with tempfile.TemporaryDirectory() as ckpt:
        q = run_step_stream(stream, step, failing_sink, breaker=breaker, checkpoint=ckpt)
        with pytest.raises(Exception):
            q.processAllAvailable()
        q.stop()
    assert breaker.state == CircuitBreaker.OPEN


def test_close_cascade(orders):
    closed: list[str] = []
    a = P.transform("a", {"x": F.lit(1)}).on_close(lambda: closed.append("a"))
    b = P.transform("b", {"y": F.lit(2)}).on_close(lambda: closed.append("b"))
    pipe = P.sequence("root", a, b)
    pipe.on_close(lambda: closed.append("root"))
    pipe.close()
    pipe.close()  # idempotent
    assert closed == ["b", "a", "root"]  # children LIFO, then own hooks


def test_write_split_sink(spark, orders, tmp_path):
    from pipz_spark.sources.sinks import write_split

    step = P.apply("validate", error_when=F.col("o_totalprice") < 5000, message="low")
    out = step(orders)
    counts = write_split(
        out, str(tmp_path / "ok"), str(tmp_path / "dlq"), mode="overwrite"
    )
    n_bad = orders.where("o_totalprice < 5000").count()
    assert counts == {"ok": orders.count() - n_bad, "dead_letter": n_bad}
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert "_error_message" in dlq.columns and dlq.count() == n_bad
    ok = spark.read.parquet(str(tmp_path / "ok"))
    assert "_pipz_error" not in ok.columns


def test_merge_parquet_sink_upserts_idempotently(spark, tmp_path):
    from pipz_spark.sources.sinks import merge_parquet_sink, read_merged

    path = str(tmp_path / "merged")
    sink = merge_parquet_sink(path, keys=["k"], buckets=8)
    sink(spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v")), 0)
    upd = spark.range(50, 150).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    sink(upd, 1)
    t = read_merged(spark, path)
    assert t.count() == 150
    assert t.where("v = 2").count() == 100  # updated keys superseded
    assert t.where("v = 1").count() == 50  # untouched keys kept
    sink(upd, 1)  # checkpoint-restart double delivery
    assert read_merged(spark, path).count() == 150


def test_merge_parquet_sink_null_keys_supersede(spark, tmp_path):
    # NULL is a real group in update-mode aggregations; the supersede
    # join must treat it null-safely or the NULL-key row duplicates
    # once per trigger (r7 review finding)
    from pipz_spark.sources.sinks import merge_parquet_sink, read_merged

    path = str(tmp_path / "merged_nulls")
    sink = merge_parquet_sink(path, keys=["k"], buckets=4)
    df1 = spark.createDataFrame([(None, 1), (7, 1)], "k int, v int")
    df2 = spark.createDataFrame([(None, 2), (7, 2)], "k int, v int")
    sink(df1, 0)
    sink(df2, 1)
    t = read_merged(spark, path)
    assert t.count() == 2
    assert t.where(F.col("k").isNull()).first()["v"] == 2
    assert t.where("k = 7").first()["v"] == 2


def test_merge_parquet_sink_rejects_layout_mismatch(spark, tmp_path):
    # a different bucket count on an existing table would strand stale
    # rows in partitions the dynamic overwrite never rewrites — the
    # recorded layout must refuse the mismatch (r7 review finding)
    import pytest as _pytest

    from pipz_spark.sources.sinks import merge_parquet_sink

    path = str(tmp_path / "merged_layout")
    upd = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    merge_parquet_sink(path, keys=["k"], buckets=8)(upd, 0)
    with _pytest.raises(ValueError, match="bucket layout"):
        merge_parquet_sink(path, keys=["k"], buckets=4)(upd, 1)


def test_write_bucketed_overwrite_from_self(spark, orders):
    # write-then-swap: overwriting a table FROM a frame that reads the
    # same table must not delete the files mid-scan, and a mid-write
    # failure must leave the old table intact (r7 review finding)
    from pipz_spark.sources.sinks import write_bucketed

    write_bucketed(
        orders.select("o_orderkey", "o_totalprice"),
        "pipz_self_overwrite",
        buckets=4,
        bucket_cols=["o_orderkey"],
    )
    derived = spark.table("pipz_self_overwrite").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    write_bucketed(
        derived, "pipz_self_overwrite", buckets=4, bucket_cols=["o_orderkey"]
    )
    assert spark.table("pipz_self_overwrite").count() == orders.count()
    spark.sql("DROP TABLE IF EXISTS pipz_self_overwrite")


def test_write_bucketed_staging_name_is_not_a_landmine(spark, orders):
    # r7 advisory: a genuine user table named <table>__staging must
    # survive an overwrite of <table> — the staging slot is per-call
    # random-suffixed, never the fixed __staging name
    from pipz_spark.sources.sinks import write_bucketed

    user = orders.select("o_orderkey").limit(7)
    user.write.mode("overwrite").saveAsTable("pipz_stage_guard__staging")
    write_bucketed(
        orders.select("o_orderkey", "o_totalprice"),
        "pipz_stage_guard",
        buckets=2,
        bucket_cols=["o_orderkey"],
    )
    write_bucketed(  # second overwrite exercises the swap path again
        orders.select("o_orderkey", "o_totalprice"),
        "pipz_stage_guard",
        buckets=2,
        bucket_cols=["o_orderkey"],
    )
    assert spark.table("pipz_stage_guard__staging").count() == 7
    assert spark.table("pipz_stage_guard").count() == orders.count()
    spark.sql("DROP TABLE IF EXISTS pipz_stage_guard")
    spark.sql("DROP TABLE IF EXISTS pipz_stage_guard__staging")


def test_resilience_store_corrupt_tmp_is_no_snapshot(spark, tmp_path):
    # r7 advisory: a crash mid-tmp-write on the FIRST-ever save leaves
    # partial JSON and no live file; load() must answer "no snapshot",
    # not raise on every subsequent restart
    from pipz_spark.streaming.streams import _ResilienceStateStore

    ckpt = str(tmp_path / "ckpt")
    store = _ResilienceStateStore(spark, ckpt)
    import os

    os.makedirs(ckpt, exist_ok=True)
    with open(ckpt + "/pipz-resilience.json.tmp", "w") as f:
        f.write('{"breaker": {"state": "OP')  # truncated mid-write
    assert store.load() is None
    # a well-formed tmp (crash between delete and rename) still loads
    with open(ckpt + "/pipz-resilience.json.tmp", "w") as f:
        f.write('{"k": 1}')
    assert store.load() == {"k": 1}


def test_flatten_dead_letter_idempotent_on_dlq_reingest(spark):
    # re-processing previously landed DLQ rows (which already carry
    # _error_* columns) must replace them, not duplicate the names
    from pipz_spark.core.errors import ensure_error_column
    from pipz_spark.sources.sinks import flatten_dead_letter

    step = P.apply("validate", error_when=F.col("x") < 0, message="neg")
    first = flatten_dead_letter(
        step(ensure_error_column(spark.createDataFrame([(-1,), (2,)], "x int")))
    )
    assert first.count() == 1 and "_error_message" in first.columns
    again = flatten_dead_letter(step(ensure_error_column(first)))
    assert again.count() == 1
    assert again.columns.count("_error_message") == 1
    assert "neg" in again.first()["_error_message"]


def test_append_log_sink_merge_on_read(spark, tmp_path):
    from pipz_spark.sources.sinks import append_log_sink, compact_log, read_latest, read_merged

    log = str(tmp_path / "log")
    sink = append_log_sink(log, keys=["k"])
    sink(spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v")), 0)
    sink(spark.range(50, 150).select(F.col("id").alias("k"), F.lit(2).alias("v")), 1)
    latest = read_latest(spark, log, keys=["k"])
    assert latest.count() == 150
    assert latest.where("k = 75").first()["v"] == 2  # latest batch wins
    assert latest.where("k = 25").first()["v"] == 1
    # compaction folds the log into a bucket-merged table
    table = str(tmp_path / "table")
    compact_log(spark, log, table, keys=["k"], buckets=8)
    assert read_merged(spark, table).count() == 150


def test_observed_effect_signal_bus(spark, orders):
    from pipz_spark.control import SignalBus, collect_observation, observed_effect
    from pipz_spark.control.observe import EFFECT_OBSERVED

    step, obs = observed_effect(
        "audit", {"rows": F.count(F.lit(1)), "total": F.sum("o_totalprice")}
    )
    out = step(orders)
    out.write.format("noop").mode("overwrite").save()  # the action
    bus = SignalBus()
    seen: list[dict] = []
    bus.on(EFFECT_OBSERVED, lambda sig, f: seen.append(f))
    vals = collect_observation(obs, name="audit", bus=bus)
    assert vals["rows"] == orders.count()
    assert seen[0]["rows"] == orders.count()
    assert abs(seen[0]["total"] - vals["total"]) < 1e-9


def test_csv_json_readers_roundtrip(spark, orders, tmp_path):
    from pipz_spark.sources.readers import read_csv, read_json, read_orc
    from pipz_spark.sources.sinks import write_orc

    sample = orders.select("o_orderkey", "o_orderstatus", "o_totalprice").limit(100)
    sample.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "csv"))
    sample.write.mode("overwrite").json(str(tmp_path / "json"))
    got_csv = read_csv(
        spark, str(tmp_path / "csv"),
        schema="o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    got_json = read_json(
        spark, str(tmp_path / "json"),
        schema="o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    assert got_csv.count() == 100 and got_json.count() == 100
    assert got_csv.exceptAll(sample).count() == 0
    assert got_json.exceptAll(sample).count() == 0
    # ORC: schema rides in the footer, no schema argument needed
    write_orc(sample, str(tmp_path / "orc"))
    got_orc = read_orc(spark, str(tmp_path / "orc"))
    assert got_orc.count() == 100 and got_orc.exceptAll(sample).count() == 0


def test_binary_dir_ingestion(spark, tmp_path):
    import hashlib

    from pipz_spark import split_ok
    from pipz_spark.datapipe import blob_metadata
    from pipz_spark.sources.readers import read_binary_dir

    media = tmp_path / "media" / "nested"
    media.mkdir(parents=True)
    payloads = {
        "a.jpg": b"\xff\xd8\xff fake jpeg bytes",
        "b.jpg": b"\xff\xd8\xff other bytes here",
        "skip.txt": b"not media",
    }
    for fname, data in payloads.items():
        (media / fname).write_bytes(data)

    df = read_binary_dir(spark, str(tmp_path / "media"), glob="*.jpg")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    # the glob filter prunes at the LISTING: the txt never enters the scan
    assert set(rows) == {"a.jpg", "b.jpg"}
    assert bytes(rows["a.jpg"]["content"]) == payloads["a.jpg"]
    assert rows["b.jpg"]["length"] == len(payloads["b.jpg"])
    # feeds the multimodal surface directly: binary column in, typed
    # metadata out, no decode
    meta = split_ok(blob_metadata(blob_col="content")(df)).collect()
    shas = {r["path"].rsplit("/", 1)[-1]: r["sha"] for r in meta}
    assert shas["a.jpg"] == hashlib.sha256(payloads["a.jpg"]).hexdigest()


def test_text_reader_lines_and_whole(spark, tmp_path):
    from pipz_spark.sources.readers import read_text

    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo line\n")
    lines = read_text(spark, str(d))
    assert sorted(r["value"] for r in lines.collect()) == [
        "line one", "line two", "solo line",
    ]
    whole = read_text(spark, str(d), whole=True)
    vals = sorted(r["value"] for r in whole.collect())
    assert vals == ["line one\nline two\n", "solo line\n"]


def test_stream_stream_join_matches_batch(spark, events):
    from pipz_spark.streaming import stream_stream_join

    a = read_events_stream(spark, SF_DIR)
    b = read_events_stream(spark, SF_DIR)
    joined = stream_stream_join(
        a, b.where(F.col("event_type") == "click"),
        keys=["user_id"], max_skew="10 minutes",
    )
    got = _run_to_memory(spark, joined, "ssjoin", mode="append")
    clicks = events.where("event_type = 'click'")
    batch = events.alias("l").join(
        clicks.selectExpr("user_id", "ts AS ts_r").alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & F.expr("ts_r BETWEEN ts - INTERVAL 10 minutes AND ts + INTERVAL 10 minutes"),
    )
    assert got.count() == batch.count()
    assert got.count() > 0


def test_breaker_state_survives_query_restart(spark):
    # SURVEY risk #4: the reference breaker lives as long as the
    # process (circuitbreaker.go:136-216); the streaming analog must
    # survive a restart from checkpoint. r4 behavior: a restarted
    # stream silently reset an OPEN breaker to CLOSED and hammered
    # the failing sink again.
    stream = read_events_stream(spark, SF_DIR)
    step = P.transform("noop", {})
    sink_calls = {"n": 0}

    def failing_sink(df, batch_id):
        sink_calls["n"] += 1
        raise RuntimeError("sink down")

    with tempfile.TemporaryDirectory() as ckpt:
        breaker = CircuitBreaker("sink", failure_threshold=1, reset_timeout=9999.0)
        q = run_step_stream(stream, step, failing_sink, breaker=breaker, checkpoint=ckpt)
        with pytest.raises(Exception):
            q.processAllAvailable()
        q.stop()
        assert breaker.state == CircuitBreaker.OPEN
        calls_before_restart = sink_calls["n"]

        # a fresh breaker instance (new driver incarnation) must come
        # back OPEN from the checkpoint before the first batch runs
        restarted = CircuitBreaker("sink", failure_threshold=1, reset_timeout=9999.0)
        stream2 = read_events_stream(spark, SF_DIR)
        q2 = run_step_stream(
            stream2, step, failing_sink, breaker=restarted, checkpoint=ckpt
        )
        assert restarted.state == CircuitBreaker.OPEN  # restored at wiring
        with pytest.raises(Exception):
            q2.processAllAvailable()
        q2.stop()
        # the restored-OPEN breaker rejected without calling the sink
        assert sink_calls["n"] == calls_before_restart


def test_breaker_snapshot_restore_reanchors_open_timer():
    from pipz_spark.control.resilience import CircuitBreaker

    t = {"now": 100.0}
    b = CircuitBreaker("b", failure_threshold=1, reset_timeout=30.0, clock=lambda: t["now"])
    with pytest.raises(RuntimeError):
        b.call(lambda: (_ for _ in ()).throw(RuntimeError("x")))
    t["now"] = 110.0  # 10s into the 30s window
    snap = b.snapshot()
    assert snap["state"] == CircuitBreaker.OPEN
    assert abs(snap["open_remaining"] - 20.0) < 1e-9

    # restore onto a DIFFERENT clock origin: the remainder re-anchors
    t2 = {"now": 5000.0}
    b2 = CircuitBreaker("b", failure_threshold=1, reset_timeout=30.0, clock=lambda: t2["now"])
    b2.restore(snap)
    assert b2.state == CircuitBreaker.OPEN
    t2["now"] += 19.0
    assert b2.state == CircuitBreaker.OPEN
    t2["now"] += 2.0  # past the remaining 20s
    assert b2.state == CircuitBreaker.HALF_OPEN


def test_limiter_snapshot_restore_no_downtime_refill():
    from pipz_spark.control.resilience import RateLimiter

    t = {"now": 0.0}
    lim = RateLimiter("l", rate=1.0, burst=5, mode="drop", clock=lambda: t["now"])
    for _ in range(4):
        lim.acquire()
    snap = lim.snapshot()
    assert abs(snap["tokens"] - 1.0) < 1e-9
    t["now"] += 3600.0  # downtime must grant no refill
    lim2 = RateLimiter("l", rate=1.0, burst=5, mode="drop", clock=lambda: t["now"])
    lim2.restore(snap)
    lim2.acquire()  # the one persisted token
    from pipz_spark.control.resilience import RateLimitExceeded

    with pytest.raises(RateLimitExceeded):
        lim2.acquire()


def test_stateful_agg_state_survives_query_restart(spark, events):
    """100 TB restart-safety claim, exercised end to end: a windowed
    aggregation's STATE-STORE contents must survive a driver restart
    from checkpoint — data arriving after the restart merges into
    windows whose earlier rows were counted by the previous
    incarnation, and the landed output equals the batch answer with
    no loss and no double count."""
    import glob
    import os
    import shutil

    from pipz_spark.sources.sinks import append_log_sink, read_latest
    from oracle_suite.streams import _NORMALIZED_EVENTS, replay_events_files
    from pipz_spark.streaming import run_step_stream, windowed_agg

    replay = replay_events_files(spark, SF_DIR, order_by_ts=True)
    parts = sorted(glob.glob(os.path.join(replay, "part-*")))
    assert len(parts) >= 2
    stage = tempfile.mkdtemp(prefix="pipz_restart_stage_")
    ckpt = tempfile.mkdtemp(prefix="pipz_restart_ckpt_")
    land = tempfile.mkdtemp(prefix="pipz_restart_land_")
    log = append_log_sink(land, keys=["win_start", "event_type"])

    def run_incarnation():
        stream = (
            spark.readStream.schema(_NORMALIZED_EVENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        agg = windowed_agg(
            stream,
            {"n": F.count(F.lit(1))},
            window="1 hour",
            keys=["event_type"],
            watermark="31 days",
        )

        def ok_sink(df, batch_id):
            log(df.select("win_start", "event_type", "n"), batch_id)

        q = run_step_stream(
            agg,
            P.transform("noop", {}),
            ok_sink,
            checkpoint=ckpt,
            query_name="pipz-restart-test",
            output_mode="update",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # incarnation 1 sees only the first half of the data
    shutil.copy(parts[0], os.path.join(stage, os.path.basename(parts[0])))
    run_incarnation()
    # driver "restarts"; the rest of the data arrives
    shutil.copy(parts[1], os.path.join(stage, os.path.basename(parts[1])))
    run_incarnation()

    got = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in read_latest(spark, land, keys=["win_start", "event_type"]).collect()
    }
    batch = {
        (r["w"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == batch


def test_session_window_state_merges_across_restart(spark):
    """The hardest state path: a session whose events STRADDLE a
    driver restart must merge into ONE window. Incarnation 1 builds a
    session in the state store; incarnation 2 (same checkpoint)
    receives an event within the gap of that session's end and must
    extend it — a lost state store would instead open a second
    session and emit two windows. Append mode: a far-future closer
    event advances the watermark past the merged session's end so it
    emits exactly once."""
    import datetime

    from pipz_spark.streaming.streams import run_step_stream, session_window_agg

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def write_file(stage, offsets_s):
        rows = [(1, t0 + datetime.timedelta(seconds=s), 1.0) for s in offsets_s]
        spark.createDataFrame(rows, "user_id long, ts timestamp, value double") \
            .coalesce(1).write.mode("append").parquet(stage)

    stage = tempfile.mkdtemp(prefix="pipz_sess_restart_stage_")
    ckpt = tempfile.mkdtemp(prefix="pipz_sess_restart_ckpt_")
    land = tempfile.mkdtemp(prefix="pipz_sess_restart_land_")
    schema = "user_id long, ts timestamp, value double"

    def run_incarnation():
        stream = spark.readStream.schema(schema).parquet(stage)
        agg = session_window_agg(
            stream, {"n": F.count(F.lit(1))}, gap="5 minutes",
            keys=["user_id"], watermark="5 minutes",
        )

        def ok_sink(df, batch_id):
            df.select("user_id", "win_start", "win_end", "n").write.mode(
                "append"
            ).parquet(land)

        q = run_step_stream(
            agg, P.transform("noop", {}), ok_sink, checkpoint=ckpt,
            query_name="pipz-sess-restart", output_mode="append",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_file(stage, [0, 60])
    run_incarnation()
    # restart: an in-gap event that must MERGE, plus a far-future
    # closer that pushes the watermark past the merged session's end
    write_file(stage, [120, 3600])
    run_incarnation()

    rows = spark.read.parquet(land).collect()
    got = {(r["user_id"], r["win_start"]): (r["n"], r["win_end"]) for r in rows}
    # exactly ONE closed session: [t0, t0+120s+gap), n=3 — a lost
    # state store would emit two windows ([0,360) n=2, [120,420) n=1)
    assert got == {(1, t0): (3, t0 + datetime.timedelta(seconds=120 + 300))}


def test_stream_static_join_matches_batch(spark, events, customer):
    # the full rig: 2-file micro-batches, per-batch broadcast hash
    # join against the customer dim, daily window per segment, landed
    # through the keyed merge-on-read log
    from oracle_suite.streams import stream_static_join

    got = stream_static_join(spark, SF_DIR)
    batch = (
        events.join(
            customer.withColumnRenamed("c_custkey", "user_id"), "user_id", "inner"
        )
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # same decimal-exact sum the rig computes, so the value
            # path is asserted too, not just the counts
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )
    g = {(r["day"], r["segment"]): (r["n"], r["total_value"]) for r in got.collect()}
    b = {(r["day"], r["segment"]): (r["n"], r["total_value"]) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_stream_ingest_dedup_matches_batch(spark):
    # the full rig: the deterministic incoming batch (1/3 re-ingested
    # duplicates, 1/3 revised docs) streams in 2 micro-batch files,
    # each batch anti-joins the static corpus hash set; the landed
    # table must equal the batch anti join — every duplicate dropped,
    # every revised doc kept exactly once
    from pipz_spark.sources.catalog import load_table
    from oracle_suite.streams import stream_ingest_dedup

    got = stream_ingest_dedup(spark, SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    text = F.coalesce(F.col("text"), F.lit(""))
    inc = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), text.alias("t"), "lang")
        .unionByName(
            docs.where(F.col("doc_id") % 3 == 1).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(text, F.lit(" rev2")).alias("t"),
                "lang",
            )
        )
    )
    ref = docs.select(F.md5(text).alias("h")).distinct()
    batch = inc.select("doc_id", F.md5("t").alias("content_hash"), "lang").join(
        ref, F.col("content_hash") == F.col("h"), "left_anti"
    )
    g = {(r["doc_id"], r["content_hash"], r["lang"]) for r in got.collect()}
    b = {(r["doc_id"], r["content_hash"], r["lang"]) for r in batch.collect()}
    assert g == b and len(g) > 0
    # every duplicate (%3==0 re-ingest) must be gone
    assert not any(1_000_000 <= i < 2_000_000 for i, _, _ in g)


def test_query_restart_resumes_exactly_once(spark, events, tmp_path):
    """End-to-end recovery: kill a throttled query mid-stream, restart
    from the same checkpoint, and the landed table must contain every
    event exactly once — source offsets skip what was committed, the
    idempotent keyed landing absorbs the one replayed batch. This is
    the whole streaming durability contract in one test."""
    import time

    from pipz_spark.sources.sinks import append_log_sink, read_latest
    from oracle_suite.streams import _NORMALIZED_EVENTS, replay_events_files
    from pipz_spark.streaming import run_step_stream

    replay = replay_events_files(spark, SF_DIR, n_files=4, order_by_ts=True)
    ckpt = str(tmp_path / "ckpt")
    land = str(tmp_path / "land")
    log = append_log_sink(land, keys=["event_id"])
    step = P.transform("noop", {})

    def ok_sink(df, batch_id):
        log(df.select("event_id", "user_id", "value"), batch_id)

    def make_stream():
        return (
            spark.readStream.schema(_NORMALIZED_EVENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )

    q = run_step_stream(make_stream(), step, ok_sink, checkpoint=ckpt)
    deadline = time.time() + 60
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    q.stop()  # mid-stream kill: some of the 4 files not yet processed
    q.awaitTermination(30)

    q2 = run_step_stream(make_stream(), step, ok_sink, checkpoint=ckpt)
    q2.processAllAvailable()
    q2.stop()

    final = read_latest(spark, land, keys=["event_id"])
    assert final.count() == events.count()
    # value-level equality, not just counts: a lost or doubled batch
    # would move the total even if some count coincidence held
    got = final.agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("t")).first()["t"]
    want = events.agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("t")).first()["t"]
    assert got == want


def test_stream_hll_registers_equal_batch_sketch(spark, events):
    """The streaming HLL's whole claim: state-store max-merge across
    micro-batches produces registers (and therefore estimates)
    BIT-IDENTICAL to the batch sketch of the same events — max is the
    aggregation, so trigger boundaries cannot move it."""
    from pipz_spark.datapipe import hll_estimate, hll_sketch
    from oracle_suite.streams import stream_hll_users

    from conftest import SF_DIR

    got = {
        (r["day"], r["event_type"]): (r["hll_users"], r["hll_s"], r["hll_empty"])
        for r in stream_hll_users(spark, SF_DIR).collect()
    }
    batch = events.where(F.col("user_id").isNotNull()).select(
        F.date_format(F.window("ts", "1 day").start, "yyyy-MM-dd").alias("day"),
        "event_type",
        "user_id",
    )
    want = {
        (r["day"], r["event_type"]): (r["hll_users"], r["hll_s"], r["hll_empty"])
        for r in hll_estimate(
            hll_sketch(batch, "user_id", ["day", "event_type"], b=8),
            ["day", "event_type"],
            b=8,
            out_col="hll_users",
        ).collect()
    }
    assert got == want
    assert len(got) > 1  # multiple days x types actually streamed


def test_stream_cms_counters_equal_batch_sketch(spark, events):
    """The streaming CMS's whole claim: state-store count-merge
    across micro-batches produces counters (and therefore every
    point-query estimate) BIT-IDENTICAL to the batch sketch of the
    same events — exact integer sums, so trigger boundaries cannot
    move them; and every estimate holds the one-sided cms_est >=
    true guarantee."""
    from pipz_spark.datapipe import cms_lookup, cms_sketch
    from oracle_suite.streams import stream_cms_traffic

    from conftest import SF_DIR

    got = {
        (r["day"], r["event_type"]): r["cms_est"]
        for r in stream_cms_traffic(spark, SF_DIR).collect()
    }
    batch = events.where(F.col("event_type").isNotNull()).select(
        F.date_format(F.window("ts", "1 day").start, "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    truth = {
        (r["day"], r["event_type"]): r["n"]
        for r in batch.groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # per-day batch sketch + lookup must equal the streaming output
    want: dict = {}
    for day in sorted({d for d, _ in truth}):
        day_ev = batch.where(F.col("day") == day)
        sk = cms_sketch(day_ev, "event_type", width=1024, depth=3)
        probes = day_ev.select("event_type").distinct()
        for r in cms_lookup(sk, probes, "event_type", width=1024, depth=3).collect():
            want[(day, r["event_type"])] = r["cms_est"]
    assert got == want
    assert len(got) > 5  # multiple days x types actually streamed
    for key, est in got.items():
        assert est >= truth[key]  # one-sided guarantee survives streaming


def test_stream_bloom_bitmap_equals_batch(spark, events):
    """The streaming Bloom's claim: state-store bit_or across
    micro-batches produces per-day bitmaps bit-identical to folding
    the same keys in batch, so zero false negatives — every present
    key tests positive against the landed words."""
    from oracle_suite.streams import stream_bloom_signatures

    from conftest import SF_DIR

    out = {
        r["day"]: (r["n_keys"], r["n_positive"], r["set_bits"])
        for r in stream_bloom_signatures(spark, SF_DIR).collect()
    }
    assert len(out) > 5  # multiple days actually streamed
    for day, (n_keys, n_positive, set_bits) in out.items():
        assert n_positive == n_keys > 0, day  # zero false negatives
        # fill sanity: bits <= 3 hashes x keys, and non-trivial
        assert 0 < set_bits <= 3 * n_keys


def test_stream_theta_equals_batch_kmv(spark, events):
    """The streaming theta's claim: bottom-k-of-a-set is a pure
    function of the distinct set, so the state store's per-day
    bottom-64 sample — whatever the micro-batch boundaries — must
    finalize to EXACTLY the batch kmv_sketch + kmv_estimate of the
    same events, and exact-regime days (n < k) must equal the true
    distinct count."""
    from pipz_spark.datapipe.sketches import kmv_estimate, kmv_sketch
    from oracle_suite.streams import stream_theta_users

    from conftest import SF_DIR

    got = {
        r["day"]: (r["kmv_distinct"], r["kmv_n"], r["kmv_theta"])
        for r in stream_theta_users(spark, SF_DIR).collect()
    }
    assert len(got) > 5  # multiple days actually streamed
    day_ev = events.where(F.col("user_id").isNotNull()).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    sk = kmv_sketch(day_ev, "user_id", k=64, group_cols=["day"])
    want = {
        r["day"]: (r["kmv_distinct"], r["kmv_n"], r["kmv_theta"])
        for r in kmv_estimate(sk, k=64, group_cols=["day"]).collect()
    }
    assert got == want
    truth = {
        r["day"]: r["u"]
        for r in day_ev.groupBy("day")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    for day, (est, n, _theta) in got.items():
        if n < 64:  # exact regime: the sample saw every distinct user
            assert est == float(truth[day]), day
        else:  # estimator regime: within the ~5/sqrt(k-2) band
            assert abs(est - truth[day]) / truth[day] < 5 / (62 ** 0.5), day
