"""Writers + the dead-letter landing path (SURVEY §2.4 sinks).

The reference has no sinks (users call APIs inside closures); an
analytics engine needs durable ones. ``_land``, shared by
``write_split`` and ``run_step_stream``, is the ONE landing path: one
computation lands happy rows AND dead letters, and ``write_split``'s
row counts ride its own ok write — the persistent form of Handle's
observation pattern (handle.go:69-120).

Scale notes: writers take partition_by for layout-aware placement
(partition pruning on read is free scan reduction at 100 TB);
dead-letter rows are written with the path/message flattened so the
DLQ is queryable without knowing the engine's struct."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..control import signals as S
from ..core.errors import ERROR_COL, ensure_error_column, error_path_str, is_failed, is_ok


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def flatten_dead_letter(df: DataFrame) -> DataFrame:
    """Failed rows with the error struct flattened to plain columns.

    Idempotent on re-ingested DLQ data: a dataset that already carries
    _error_* columns (landed by an earlier dead_letter_handler, then
    re-processed and failed again) has its stale flattened columns
    replaced by the NEW error's — select('*', alias...) would instead
    produce duplicate column names and fail the write (r7 review)."""
    stale = [c for c in df.columns if c.startswith("_error_")]
    return df.where(is_failed()).drop(*stale).select(
        "*",
        error_path_str().alias("_error_path"),
        F.col(ERROR_COL)["message"].alias("_error_message"),
        F.col(ERROR_COL)["timeout"].alias("_error_timeout"),
        F.col(ERROR_COL)["canceled"].alias("_error_canceled"),
    ).drop(ERROR_COL)


def _count_columns() -> tuple:
    return (
        F.count_if(is_ok()).alias("ok"),
        F.count_if(is_failed()).alias("dead_letter"),
    )


def _land(
    df: DataFrame,
    ok_sink: Callable[[DataFrame], None],
    dead_letter_sink: Callable[[DataFrame], None] | None = None,
    count: str | None = None,
) -> dict[str, int] | None:
    """Land ok rows (error column dropped) to ``ok_sink``, then failed
    rows (error struct kept) to ``dead_letter_sink``; return the
    ``ok``/``dead_letter`` row counts if ``count`` names a way.

    ``"observe"`` reads them off the ok sink's action, at no job of its
    own, so only for a sink whose FIRST action scans its whole frame:
    a partial one (``isEmpty``) fills the Observation with partial
    counts, and none (a skipped write) leaves its read waiting forever.
    ``"aggregate"`` runs one aggregate job after the sinks. The frame
    is persisted only for a second consumer (a dead-letter sink or
    that aggregate)."""
    df = ensure_error_column(df)
    obs = None
    if count == "observe":
        obs = Observation()
        df = df.observe(obs, *_count_columns())
    shared = dead_letter_sink is not None or count == "aggregate"
    if shared:
        df = df.persist()
    try:
        ok_sink(df.where(is_ok()).drop(ERROR_COL))
        if dead_letter_sink is not None:
            dead_letter_sink(df.where(is_failed()))
        if count == "aggregate":
            return df.agg(*_count_columns()).first().asDict()
    finally:
        if shared:
            df.unpersist()
    return None if obs is None else obs.get


def write_split(
    df: DataFrame,
    ok_path: str,
    dead_letter_path: str | None = None,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    name: str = "write-split",
    bus: S.SignalBus = S.BUS,
) -> dict[str, int]:
    """Terminal action: land the happy path and, given a path, the
    flattened dead letter through ``_land``.

    Returns row counts per side (``dead_letter`` only with a
    dead-letter path), read off the ok write at no Spark job (one
    aggregate job under ``mode="ignore"``, which may skip the write),
    and emits ``sequence.completed`` with them — the terminal action
    is where a batch pipeline's completion becomes observable."""

    def write_dead(dead: DataFrame) -> None:
        write_parquet(flatten_dead_letter(dead), dead_letter_path, mode=mode)

    counts = _land(
        df,
        lambda ok: write_parquet(ok, ok_path, mode=mode, partition_by=partition_by),
        None if dead_letter_path is None else write_dead,
        "aggregate" if mode.lower() == "ignore" else "observe",
    )
    if dead_letter_path is None:
        del counts["dead_letter"]
    bus.emit(S.SEQUENCE_COMPLETED, name=name, **counts)
    return counts


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucketing is THE lever for repeated large-large joins/aggs on the
    same key at 100 TB: two tables bucketed (and sorted) on the join
    key by the same bucket count join with NO exchange and NO sort —
    the shuffle is paid once at write time instead of per query.

    Overwrite is WRITE-THEN-SWAP: the new data lands fully in a
    staging table first, and only then does the old table drop and the
    staging table rename into place. Dropping first would (a) destroy
    the existing table before the replacement is known to compute —
    any mid-write failure loses everything — and (b) delete the very
    files a self-referential ``df`` (built FROM the table being
    overwritten) still has to scan (r7 review finding). The staging
    name carries a per-call random suffix (r7 advisory): a FIXED
    ``<table>__staging`` would silently destroy a genuine user table
    of that name and make two concurrent overwrites race on one
    staging slot. A crash at ANY point before the final rename leaves
    that run's ``<table>__staging_<hex>`` table behind — deliberately:
    it is the crash-recovery artifact (complete new data when the
    crash hit the swap window), and auto-reclaiming siblings would
    race a concurrent overwrite's LIVE staging table. Repeated
    crash/retry cycles therefore accumulate staging copies; sweep
    ``<table>__staging_*`` manually once recovery is settled.
    """
    import uuid

    spark = df.sparkSession

    def _drop(name: str) -> None:
        # the in-memory catalog forgets tables across sessions while
        # their warehouse directories persist; clear BOTH so the name
        # is truly free
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        parts = name.lower().split(".")
        # managed location: warehouse/<db>.db/<table> when qualified,
        # warehouse/<table> in the default database
        rel = f"{parts[-2]}.db/{parts[-1]}" if len(parts) > 1 else parts[-1]
        jvm = spark._jvm
        loc = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{rel}")
        fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(loc):
            fs.delete(loc, True)

    target = (
        table if mode != "overwrite" else f"{table}__staging_{uuid.uuid4().hex[:12]}"
    )
    if mode == "overwrite" and spark.catalog.tableExists(target):
        # astronomically unlikely with a random suffix; if it fires,
        # refuse rather than destroy a table this helper did not create
        raise ValueError(
            f"write_bucketed: staging name {target!r} already exists as a table"
        )
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(target)
    if mode == "overwrite":
        _drop(table)
        spark.sql(f"ALTER TABLE {target} RENAME TO {table}")


def write_shuffled_export(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    n_shards: int = 1024,
    salt: str = "shuffle",
    mode: str = "overwrite",
) -> None:
    """Materialize the deterministic training-export shuffle
    (``datapipe.deterministic_shuffle``) as one rank-ordered parquet
    directory per shard (``path/shard=K/``). A data loader that reads
    shard directories in shard order and rows in file order replays
    the exact same global example order on every run — the durable
    half of the shuffle contract.

    Shape: ONE hash exchange total — deterministic_shuffle's rank
    window already partitions by the shard column, so every task owns
    whole shards and a second repartition on the same key would only
    re-shuffle identical data (r7 review finding). A within-partition
    sort on (shard, shuffle_rank) — parquet preserves row order within
    files — then a partitioned write that prunes to single shards on
    read. Never a global sort."""
    from ..datapipe.sampling import deterministic_shuffle

    shuffled = deterministic_shuffle(df, key_col=key_col, n_shards=n_shards, salt=salt)
    (
        shuffled.sortWithinPartitions("shard", "shuffle_rank")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def _table_exists(df_or_spark, path: str) -> bool:
    """True iff data lives at path. A merely-created EMPTY directory
    (tempfile.mkdtemp) is not a table, and the dynamic-partition
    committer writes no _SUCCESS marker — so the test is 'directory
    has non-hidden children'."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        # partition dirs ("col=value") count as data even when the
        # partition column name starts with an underscore
        if "=" in name or (not name.startswith("_") and not name.startswith(".")):
            return True
    return False


def _merge_meta_path(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_pipz_merge_meta.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, p


def _write_merge_meta(spark, path: str, keys, buckets: int, bucket_col: str) -> None:
    import json

    _, fs, p = _merge_meta_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(
            bytearray(
                json.dumps(
                    {"keys": list(keys), "buckets": buckets, "bucket_col": bucket_col}
                ).encode("utf-8")
            )
        )
    finally:
        out.close()


def _validate_merge_meta(spark, path: str, keys, buckets: int, bucket_col: str) -> None:
    """The bucket assignment is pmod(hash(keys), buckets) recomputed
    per sink CALL — a later call with a different bucket count (or
    keys) would put a key's update in a different partition than its
    existing row, and the dynamic overwrite would then leave the stale
    row alive on disk (r7 review finding). The table records its
    layout at creation; every subsequent merge validates against it.
    Pre-meta tables (created before r7) validate vacuously."""
    import json

    jvm, fs, p = _merge_meta_path(spark, path)
    if not fs.exists(p):
        return
    stream = fs.open(p)
    try:
        meta = json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()
    mine = {"keys": list(keys), "buckets": buckets, "bucket_col": bucket_col}
    if meta != mine:
        raise ValueError(
            f"merge table at {path} was created with {meta}, but this sink "
            f"was configured with {mine} — a mismatched bucket layout would "
            "strand stale rows in unrewritten partitions"
        )


def merge_parquet_sink(
    path: str,
    keys: list[str],
    buckets: int = 64,
    bucket_col: str = "_kb",
):
    """Idempotent upsert-by-key landing for UPDATE-mode streams.

    Complete-mode + overwrite re-emits and rewrites the FULL
    aggregation state every trigger — state re-emission grows with
    history, a scale-killer on unbounded window counts. This sink is
    the scale-safe shape: the table is parquet partitioned by a hash
    bucket of the merge key, and each micro-batch rewrites ONLY the
    buckets containing updated keys (read affected buckets → drop
    superseded rows → union the updates → dynamic-partition
    overwrite). Per-trigger cost is O(size of affected buckets), which
    a watermark bounds to the recent windows, never O(history).
    Replaying a batch reproduces the same table — the merge is a
    deterministic upsert, so checkpoint-restart double-delivery is
    safe.

    Returns a ``(DataFrame, batch_id) -> None`` callable for
    ``run_step_stream``/``foreachBatch``. Read the result with
    :func:`read_merged` (drops the bucket column).

    Precondition: at most one VALUE per key per batch. Update-mode
    aggregation emissions satisfy this by construction (one row per
    changed group); for CDC-style inputs carrying several differing
    rows per key, reduce to the intended survivor (e.g. max by a
    sequence column) BEFORE the sink — dropDuplicates here only
    collapses exact replays, and which of two DIFFERENT rows it keeps
    is not defined.
    """

    def sink(updates: DataFrame, batch_id: int) -> None:
        spark = updates.sparkSession
        upd = updates.dropDuplicates(keys).withColumn(
            bucket_col, F.pmod(F.xxhash64(*keys), F.lit(buckets))
        )
        if _table_exists(spark, path):
            _validate_merge_meta(spark, path, keys, buckets, bucket_col)
            existing = spark.read.parquet(path)
            # NULL-SAFE key equality: dropDuplicates above treats NULL
            # keys as equal (NULL is a real group in update-mode
            # aggregations), so the supersede join must too — a plain
            # equi anti-join keeps every old NULL-key row forever and
            # the table accumulates one duplicate per trigger
            # (r7 review finding)
            upd_keys = upd.select(
                *[F.col(k).alias(f"_u_{k}") for k in keys]
            ).distinct()
            cond = None
            for k in keys:
                c = existing[k].eqNullSafe(F.col(f"_u_{k}"))
                cond = c if cond is None else cond & c
            keep = (
                existing.join(upd_keys, cond, "left_anti")
                # only affected buckets are rewritten; the semi join is
                # a broadcast against ≤ ``buckets`` distinct ids
                .join(
                    F.broadcast(upd.select(bucket_col).distinct()),
                    bucket_col,
                    "semi",
                )
            )
            merged = keep.unionByName(upd.select(*keep.columns))
            # the merged plan reads the same path it overwrites; cut
            # the lineage so the write doesn't scan mid-replace. The
            # checkpoint holds only the affected buckets' rows.
            merged = merged.localCheckpoint(eager=True)
        else:
            merged = upd
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(bucket_col)
            .parquet(path)
        )
        # record the layout AFTER the first successful write so every
        # later sink/compact call validates against it
        _write_merge_meta(spark, path, keys, buckets, bucket_col)

    return sink


def read_merged(spark, path: str, bucket_col: str = "_kb") -> DataFrame:
    """Read a merge_parquet_sink table without its bucket column."""
    return spark.read.parquet(path).drop(bucket_col)


def append_log_sink(path: str, keys: list[str]):
    """MERGE-ON-READ landing for UPDATE-mode streams: each trigger
    APPENDS its changed rows stamped with the batch id — one write
    job, no reads, per-trigger cost O(batch) regardless of history.
    The keyed table is resolved at read time (:func:`read_latest`)
    and periodically compacted (:func:`compact_log` folds the log
    through merge_parquet_sink — the merge-on-WRITE half).

    This is the same trade table formats make (Delta/Hudi MOR):
    cheap continuous ingest, a bounded amount of read-time merge, and
    compaction on your schedule instead of every trigger. Replaying a
    batch after checkpoint restart appends identical rows under the
    same batch id; read_latest's per-key resolution makes the replay
    invisible."""

    def sink(updates: DataFrame, batch_id: int) -> None:
        (
            updates.dropDuplicates(keys)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(path)
        )

    return sink


def read_latest(spark, path: str, keys: list[str]) -> DataFrame:
    """Resolve an append_log_sink table to its latest row per key.
    Ties (a replayed batch re-appending identical rows) are value-
    identical, so the pick is deterministic."""
    from pyspark.sql import Window

    df = spark.read.parquet(path)
    w = Window.partitionBy(*keys).orderBy(F.col("_batch_id").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_batch_id")
    )


def compact_log(spark, log_path: str, table_path: str, keys: list[str], buckets: int = 64) -> None:
    """Fold an append log into a merge_parquet_sink table — the
    compaction step that keeps read-time merge bounded. Run it on a
    schedule (or when the log's batch count passes a threshold), then
    truncate the log."""
    merge_parquet_sink(table_path, keys, buckets=buckets)(read_latest(spark, log_path, keys), -1)


def dead_letter_handler(path: str, mode: str = "append"):
    """A Handle-compatible callable that durably lands failed rows
    (the 'Step handlers must terminate in a sink' rule, VERDICT r1)."""

    def handler(failed: DataFrame) -> None:
        write_parquet(flatten_dead_letter(failed), path, mode=mode)

    return handler
