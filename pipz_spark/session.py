"""SparkSession factory with scale-appropriate defaults.

Tuned for the engine's execution profile: expression-heavy projections
(Either guards), broadcast-able dimension joins, and AQE for runtime
re-planning (skew joins, partition coalescing). On a real cluster the
same config applies — only master/parallelism change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_session(
    app_name: str = "pipz-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime partition coalescing + skew-join splitting —
        # essential at 100 TB, harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): an A/B
        # probe of flipping it to false (Spark's own production
        # recommendation) measured both directions at sf0.1 — skinny
        # exchanges got cheaper (dp_heavy_hitters 8.3→4.3 s) but
        # CPU-dense post-shuffle stages serialized onto one task
        # (dp_components 4.7→6.9 s, hash-heavy pair-graph build).
        # This engine's answer is per-operator: loops that KNOW their
        # rounds are skinny size their exchanges explicitly
        # (graph._star_rounds' rows-per-partition rule), which beats
        # a global coalescing policy in both directions.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Arrow for the pandas-UDF escape hatch (the slow path, but
        # batched, never row-at-a-time).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Compiled whole-stage classes live in an LRU of 100 entries by
        # default; one corpus cleaning + near-dup + cluster pass needs
        # ~110-130, so a repeated pass evicted each class before its
        # reuse and recompiled everything (Janino + JIT CPU every pass).
        # 1000 holds several such pipelines; an entry is one loaded class.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache key is the generated source, and by default the
        # class name carries the codegen stage id. Stage numbering is
        # not stable between runs of one query under AQE (the near-dup
        # pass now and then swaps two ids), so an unchanged stage came
        # back under a new name and compiled again; without the id,
        # identical stages share one class.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Dimension tables in this schema are tiny; keep the default
        # 10 MB threshold but make the intent explicit.
        .config("spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024)
        .config("spark.sql.session.timeZone", "UTC")
        # keep managed-table data out of the repo working directory
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/pipz-spark-warehouse"))
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp — read as long and normalize in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
