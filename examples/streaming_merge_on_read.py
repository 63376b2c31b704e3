"""Streaming window aggregation with a scale-safe keyed landing.

Runnable demo of the streaming layer as a product: replay the events
table as a multi-trigger stream, aggregate hourly per-type totals
incrementally in the state store, flow every micro-batch through a
Step pipeline, and land UPDATE-mode emissions via
merge-on-read (append log → latest-per-key → periodic compaction) —
the landing pattern that stays O(batch) per trigger at any history
length, where complete-mode rewrite grows with the stream's lifetime.

    PYTHONPATH=/root/repo python examples/streaming_merge_on_read.py [sf_dir]

On a real cluster the same code runs against a Kafka/file source with
tight watermarks; the replay rig here exists so the output can be
checked against a batch oracle (see oracle_suite/streams.py).
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import functions as F

from pipz_spark import get_session
from pipz_spark.operators.processors import transform
from pipz_spark.sources.sinks import append_log_sink, compact_log, read_latest, read_merged
from pipz_spark.streaming import run_step_stream, windowed_agg

from oracle_suite.streams import _NORMALIZED_EVENTS, replay_events_files


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("streaming-sessionization")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. a genuine multi-trigger stream (one file per micro-batch)
    replay = replay_events_files(spark, sf_dir, order_by_ts=True)
    stream = (
        spark.readStream.schema(_NORMALIZED_EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )

    # 2. hourly per-type totals, incremental in the state store
    agg = windowed_agg(
        stream,
        {
            "n": F.count(F.lit(1)),
            "total_value": F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
        },
        window="1 hour",
        keys=["event_type"],
        watermark="31 days",  # replay-spanning; production uses tight horizons
    )
    fmt = transform(
        "format-hour",
        {"hour": F.date_format(F.col("win_start"), "yyyy-MM-dd HH:mm")},
    )

    # 3. merge-on-read landing: one append per trigger, resolve on read
    land = tempfile.mkdtemp(prefix="hourly_log_")
    log = append_log_sink(land, keys=["hour", "event_type"])

    def ok_sink(df, batch_id):
        log(df.select("hour", "event_type", "n", "total_value"), batch_id)

    q = run_step_stream(
        agg,
        fmt,
        ok_sink,
        checkpoint=tempfile.mkdtemp(prefix="hourly_ckpt_"),
        query_name="example-hourly",
        output_mode="update",
    )
    q.processAllAvailable()
    q.stop()

    latest = read_latest(spark, land, keys=["hour", "event_type"])
    print(f"windows landed: {latest.count()}")
    latest.orderBy(F.col("total_value").desc()).show(5)

    # 4. compaction on the reader's schedule: fold the log into a
    #    bucket-partitioned table (idempotent upsert), then reads skip
    #    the per-key resolution entirely
    table = tempfile.mkdtemp(prefix="hourly_table_")
    compact_log(spark, land, table, keys=["hour", "event_type"], buckets=16)
    print(f"compacted table rows: {read_merged(spark, table).count()}")

    spark.stop()


if __name__ == "__main__":
    main()
