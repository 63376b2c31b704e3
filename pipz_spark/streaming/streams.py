"""Streaming operators over the `events` table and Step pipelines.

100 TB posture: source throttling via maxFilesPerTrigger (the
streaming analog of the reference's RateLimiter ingestion control,
ratelimiter.go:96-112), watermarks bound state for late data, and all
stateful aggregation uses Spark's own state store (checkpointable,
restart-safe — SURVEY §7.3.4).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Mapping
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.caches import release_caches
from ..core.step import Step
from ..control import signals as S
from ..control.resilience import CircuitBreaker, RateLimiter
from ..sources.sinks import _land

def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over events.parquet with source throttling
    (maxFilesPerTrigger — ingestion rate control lives at the SOURCE
    in Spark, not per value). ts normalized to a real TIMESTAMP.

    The file source needs an explicit schema, but what the parquet
    reader yields for the TIMESTAMP(NANOS) physical type drifts
    across Spark versions (long nanos vs TIMESTAMP_NTZ — the r5
    breakage). So PROBE the batch reader for the actual schema
    (footer-only, no data scan) instead of hardcoding one, then run
    the shared normalizer — same canonicalization as the batch
    catalog (sources/catalog.py:normalize_events_ts)."""
    from ..sources.catalog import normalize_events_ts

    # old readers reject TIMESTAMP(NANOS) without this; 4.1+ ignores it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # glob form: the file source requires a directory basePath, so
    # match the single file with a pattern (parent dir becomes base)
    df = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(os.path.join(sf_dir, "events.[p]arquet"))
    )
    return normalize_events_ts(df)


def windowed_agg(
    events: DataFrame,
    aggs: Mapping[str, Column],
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling (or sliding when ``slide`` is given)
    window aggregation. The watermark bounds state AND defines the
    late-data policy: events older than it are dropped, on-time
    updates flow to the sink in append/update mode."""
    w = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    grouped = (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), *(keys or []))
        .agg(*[c.alias(k) for k, c in aggs.items()])
    )
    return grouped.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        *(keys or []),
        *aggs.keys(),
    )


def session_window_agg(
    events: DataFrame,
    aggs: Mapping[str, Column],
    gap: str = "30 minutes",
    keys: list[str] | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows (dynamic gap-closed) per key — e.g. user
    sessionization over the events stream."""
    grouped = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), *(keys or []))
        .agg(*[c.alias(k) for k, c in aggs.items()])
    )
    return grouped.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        *(keys or []),
        *aggs.keys(),
    )


def dedupe_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps only in-horizon keys in the
    state store — the streaming face of datapipe.exact_dedup."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


_RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total_scaled long"


def running_totals(events: DataFrame, timeout_minutes: int | None = None) -> DataFrame:
    """Custom stateful per-key operator via applyInPandasWithState:
    cumulative event count + value per user across micro-batches (the
    pattern slot for bespoke stateful logic the built-in aggs can't
    express — per-key breakers, decaying counters, model state).

    The accumulator is an EXACT scaled integer (values quantized at 4
    decimals on ingest): float state drifts with accumulation order
    and stream lifetime — a restart that replays a batch, or a
    repartition that reorders arrivals, would change a float total's
    low bits forever. Integer state is associative, replay-stable,
    and lets the final state hash-match a batch SQL aggregate.

    ``timeout_minutes`` evicts abandoned keys via processing-time
    timeout — REQUIRED on unbounded key spaces at scale, but note the
    timeout wake-ups keep scheduling micro-batches, so leave it None
    for finite replays/tests that wait with processAllAvailable."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    use_timeout = timeout_minutes is not None

    def update(key, pdfs: Iterator["object"], state: GroupState):
        import numpy as np
        import pandas as pd

        if use_timeout and state.hasTimedOut:
            state.remove()
            return
        n, total_scaled = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # NULL values arrive as NaN; np.rint(NaN).astype(int64)
            # is undefined (INT64_MIN in practice) and would corrupt
            # the accumulator forever — skip them like batch SUM
            # does, while n_events stays COUNT(*) (r7 review finding)
            vals = pdf["value"].to_numpy(dtype="float64")
            vals = vals[~np.isnan(vals)]
            total_scaled += int(
                np.rint(vals * 10000.0).astype("int64").sum()
            )
        state.update((n, total_scaled))
        if use_timeout:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total_scaled / 10000.0],
            }
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    max_skew: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with an event-time range
    bound. The time bound is what makes the state PRUNABLE: each side
    buffers only rows within watermark+skew, so state size is
    rate-bounded instead of unbounded — mandatory for a join of two
    infinite streams. Output columns are the left row plus the right
    side's ts/value columns suffixed ``_r``."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    suffixed = right.select(
        *[F.col(k).alias(k) for k in keys],
        *[
            F.col(c).alias(f"{c}_r")
            for c in right.columns
            if c not in keys
        ],
    )
    r = suffixed.withWatermark(f"{ts_col}_r", watermark).alias("r")
    key_cond = None
    for k in keys:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        key_cond = c if key_cond is None else (key_cond & c)
    time_cond = F.expr(
        f"{ts_col}_r BETWEEN {ts_col} - INTERVAL {max_skew} AND {ts_col} + INTERVAL {max_skew}"
    )
    joined = l.join(r, key_cond & time_cond, how)
    return joined.select("l.*", *[c for c in suffixed.columns if c.endswith("_r")])


class _ResilienceStateStore:
    """Breaker/limiter state riding in the streaming query's
    checkpoint directory, so operational state survives a restart the
    same way offsets and aggregation state do. Without it, a restarted
    stream silently resets an OPEN breaker to CLOSED and hammers the
    failing sink again (the reference breaker lives as long as the
    process — circuitbreaker.go:136-216 — and a restarted streaming
    query IS morally the same process resuming).

    I/O goes through the Hadoop FileSystem API via the JVM gateway, so
    the state lands on whatever filesystem the checkpoint itself uses
    (local, HDFS, object store) — never a driver-local path that a
    failover would lose. Writes land the complete new state in a
    sibling temp file first, then replace the target; a crash mid-
    write leaves the previous snapshot intact, and a crash inside the
    replace window is covered by load()'s tmp fallback (the tmp file
    is complete by then). delete/rename failures raise — Hadoop
    signals them via return values, not exceptions."""

    def __init__(self, spark: SparkSession, checkpoint: str) -> None:
        self._spark = spark
        self._path = checkpoint.rstrip("/") + "/pipz-resilience.json"

    def _fs(self):
        jvm = self._spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._path)
        fs = path.getFileSystem(self._spark._jsc.hadoopConfiguration())
        return jvm, fs, path

    def _read(self, jvm, fs, path) -> dict:
        import json

        stream = fs.open(path)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def load(self) -> dict | None:
        jvm, fs, path = self._fs()
        if fs.exists(path):
            return self._read(jvm, fs, path)
        # crash-window fallback: save() writes the COMPLETE new state
        # to the .tmp sibling before touching the live file, so if a
        # crash landed between delete(live) and rename(tmp→live) the
        # tmp file IS the newest durable snapshot — restarting the
        # breaker CLOSED here would hammer the failing sink, the
        # exact failure this store exists to prevent (r7 review)
        tmp = jvm.org.apache.hadoop.fs.Path(self._path + ".tmp")
        if fs.exists(tmp):
            # a crash MID-tmp-write on the first-ever save leaves
            # partial JSON with no live file to fall back to — treat
            # an unparseable tmp as "no snapshot", not a crash loop
            # (r7 advisory)
            try:
                return self._read(jvm, fs, tmp)
            except ValueError:
                return None
        return None

    def save(self, state: dict) -> None:
        import json

        jvm, fs, path = self._fs()
        tmp = jvm.org.apache.hadoop.fs.Path(self._path + ".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(json.dumps(state).encode("utf-8")))
        finally:
            out.close()
        # Hadoop FileSystem reports delete/rename failure via the
        # RETURN VALUE, not an exception — ignoring it would silently
        # keep serving a stale snapshot forever
        if fs.exists(path) and not fs.delete(path, False):
            raise IOError(f"could not replace resilience snapshot at {self._path}")
        if not fs.rename(tmp, path):
            raise IOError(f"could not publish resilience snapshot at {self._path}")


def run_step_stream(
    stream: DataFrame,
    step: Step,
    ok_sink: Callable[[DataFrame, int], None],
    dead_letter_sink: Callable[[DataFrame, int], None] | None = None,
    breaker: CircuitBreaker | None = None,
    limiter: RateLimiter | None = None,
    checkpoint: str | None = None,
    query_name: str = "pipz-stream",
    output_mode: str | None = None,
    bus: S.SignalBus = S.BUS,
):
    """Apply a Step pipeline per micro-batch with dead-letter split,
    the sink action optionally wrapped by a CircuitBreaker and/or
    RateLimiter (the reference's operational connectors in their
    streaming home, SURVEY §1.5). Returns the StreamingQuery.

    Each batch lands through ``write_split``'s landing (``_land``),
    persisted ONLY for a second consumer: a single sink consumes the
    plan once, and persisting would bill a storage materialization to
    every trigger for nothing. Each sink is assumed to run ONE action
    over its frame — a sink that runs several (count + write) should
    persist/unpersist inside itself. The sinks are caller code that
    may run a partial action or none for a count to ride, so the
    batch's ok/dead-letter counts are one aggregate job (the second
    consumer), run only for listeners that NAME ``sequence.completed``;
    an ``on_any``-only audience gets them as None (DIVERGENCES #11).
    Breaker-open or limiter-drop raises inside foreachBatch → the
    micro-batch fails and Spark retries/stops per its policy, which
    is exactly the fail-fast contract.

    When a ``checkpoint`` is given, breaker/limiter state is persisted
    into it after every micro-batch (tripped state included — the
    snapshot lands in the finally path) and restored here before the
    query starts, so a restart from checkpoint resumes the breaker
    OPEN instead of silently hammering a failing sink from CLOSED
    (see _ResilienceStateStore).

    The query's stateful operators take their partition count from
    the session's ``spark.sql.shuffle.partitions`` at its FIRST start
    (Spark pins it in the checkpoint); this function reads the
    session conf and never writes it, so size that setting before
    starting a stream whose key cardinality differs from the batch
    work's."""

    state_store = None
    if checkpoint and (breaker is not None or limiter is not None):
        state_store = _ResilienceStateStore(stream.sparkSession, checkpoint)
        snap = state_store.load()
        if snap:
            if breaker is not None and "breaker" in snap:
                breaker.restore(snap["breaker"])
            if limiter is not None and "limiter" in snap:
                limiter.restore(snap["limiter"])

    def guard(action: Callable[[], None]) -> None:
        if limiter is not None:
            action = partial(limiter.call, action)
        if breaker is not None:
            action = partial(breaker.call, action)
        action()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        try:
            counts = _land(
                step.apply(batch_df, ()),
                lambda ok: guard(lambda: ok_sink(ok, batch_id)),
                None
                if dead_letter_sink is None
                else lambda dead: dead_letter_sink(dead, batch_id),
                "aggregate" if bus.has_direct_listeners(S.SEQUENCE_COMPLETED) else None,
            )
            if bus.has_listeners(S.SEQUENCE_COMPLETED):
                bus.emit(
                    S.SEQUENCE_COMPLETED,
                    name=query_name,
                    batch_id=batch_id,
                    **(counts or {"ok": None, "dead_letter": None}),
                )
        finally:
            # persist operational state whether the batch succeeded or
            # tripped — an OPEN transition recorded only on success
            # would be exactly the state a restart needs and lacks
            if state_store is not None:
                persisted: dict = {}
                if breaker is not None:
                    persisted["breaker"] = breaker.snapshot()
                if limiter is not None:
                    persisted["limiter"] = limiter.snapshot()
                state_store.save(persisted)
            # free every frame this batch tracked (Step and operator
            # caches) once its sinks are done, or a long-running stream
            # accumulates cached blocks
            release_caches()

    writer = stream.writeStream.foreachBatch(process).queryName(query_name)
    if output_mode:
        # aggregated streams need an explicit mode: "complete" re-emits
        # the full state each trigger (what a finite replay needs to
        # surface its final windows), "update" emits changed rows only
        writer = writer.outputMode(output_mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
