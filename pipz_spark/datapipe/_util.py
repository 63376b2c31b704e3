"""Shared datapipe plumbing helpers."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Logical operators that change (or deliberately set) the frame's
# partitioning. Matched at LINE START after the plan tree-prefix
# characters only — a column named SortKey or a string literal
# containing "Join" appears mid-line inside an expression list and
# must not trip the guard.
_PARTITIONING_NODES = re.compile(
    # Repartition\w*: the by-expression/by-range forms are DISTINCT
    # logical nodes (RepartitionByExpression) — a bare \b after
    # "Repartition" missed them, so fan_out would clobber a caller's
    # explicit hash/range layout with a round-robin shuffle, the
    # exact behavior the guard exists to prevent (r7 review finding)
    r"(?m)^[\s:+\-|]*'?(Repartition\w*|RebalancePartitions|Join|Aggregate|Sort|Window|Exchange)\b"
)


def _plan_sets_partitioning(df: DataFrame) -> bool:
    """True when the optimized plan contains a node that changes the
    scan's partitioning — a shuffle, or an explicit caller
    repartition/coalesce. In both cases the partition layout is a
    DECISION (Spark's or the caller's), not a scan accident."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return bool(_PARTITIONING_NODES.search(plan))


def local_frame(spark, data, schema) -> DataFrame:
    """A driver-resident frame built through Arrow as a
    ``LocalRelation``: ``data`` is a pandas frame or a list of row
    tuples, ``schema`` a ``StructType`` or DDL string whose types and
    nullability the frame keeps exactly. A list of rows would become a
    PythonRDD scan (``LogicalRDD``) that starts Python workers on
    every evaluation; so would an EMPTY pandas frame, which
    ``createDataFrame`` does not send through Arrow. An Arrow table of
    any length, empty included, lands as a local relation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, list):
        cols = list(zip(*data)) if data else [()] * len(schema.fields)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    else:
        table = pa.Table.from_pandas(data, schema=arrow_schema, preserve_index=False)
    return spark.createDataFrame(table, schema)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Rebalance an under-partitioned input ahead of a CPU-bound
    stage. A small table arrives from the scan as ONE input split
    (one parquet file < maxPartitionBytes), which would serialize the
    dense math that follows — minhash minima, simhash votes, embedding
    matmuls — on a single core while the rest of the executors idle
    (measured: the whole sf0.1 minhash signature pass ran on 1 of 32
    cores, 60% of the query's wall time).

    Only fans out when the SCAN provides fewer splits than the
    session's parallelism; at real scale the input already has
    thousands of splits and this is a no-op, so the round-robin
    shuffle only ever happens when it is by definition cheap (the
    whole input fits in fewer splits than there are cores). A frame
    whose plan already sets its own partitioning — an upstream
    shuffle, or a caller's explicit repartition/coalesce — passes
    through untouched: second-guessing a chosen layout with another
    shuffle is never this helper's call.
    """
    if _plan_sets_partitioning(df):
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _scan_splits_estimate(df) >= target:
        return df
    return df.repartition(target)


def _scan_splits_estimate(df: DataFrame) -> int:
    """Plan-only estimate of how many input splits the scan under
    ``df`` yields. ``df.rdd.getNumPartitions()`` answers this exactly
    but forces a DataFrame→RDD lineage conversion per call; this uses
    only catalog metadata, mirroring Spark's FilePartition packing:

        padded        = total_size + n_files·open_cost
        bytes_per_core = padded / default_parallelism
        max_split     = min(maxPartitionBytes,
                            max(openCostInBytes, bytes_per_core))
        splits        ≈ ceil(padded / max_split)

    The bytes_per_core clamp matters: it is what makes Spark split a
    medium table across all cores even when it would fit in a couple
    of maxPartitionBytes bins (omitting it underestimated a 32-file
    corpus as 2 splits and made fan_out insert a useless shuffle —
    caught by the 10× stress run). Estimate drift in either direction
    stays safe: overestimating skips a fan-out that might have
    helped; underestimating adds a repartition that is cheap by
    definition (the input fits in fewer splits than there are cores).

    Only valid for plans whose partitioning is the scan's (callers
    gate on ``_plan_sets_partitioning`` first); anything without a
    local file scan falls back to the exact probe.
    """
    try:
        files = df.inputFiles()
        n_files = len(files)
        jconf = df.sparkSession.conf
        max_pb = _bytes_conf(jconf, "spark.sql.files.maxPartitionBytes", 128 << 20)
        open_cost = _bytes_conf(jconf, "spark.sql.files.openCostInBytes", 4 << 20)
        # ACTUAL file bytes, not plan stats: the optimized plan's
        # sizeInBytes is scaled down by projections/filters (a
        # two-column read of a wide table reports a fraction of the
        # file size), which underestimates splits and would insert a
        # shuffle on inputs that already have enough partitions. Only
        # local paths are stat-able from the driver; remote
        # filesystems fall through to the exact probe.
        import os as _os

        total = 0
        for f in files:
            p = f[5:] if f.startswith("file:") else f
            while p.startswith("//"):
                p = p[1:]
            if p.startswith("/"):
                total += _os.path.getsize(p)
            else:
                raise ValueError("non-local input; use exact probe")
        cores = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        # no file-based scan under this plan (in-memory relation,
        # remote storage, …) — fall back to the exact probe
        return df.rdd.getNumPartitions()
    if n_files == 0:
        return df.rdd.getNumPartitions()
    padded = total + n_files * open_cost
    max_split = min(max_pb, max(open_cost, padded // max(cores, 1)))
    return max(1, -(-padded // max(max_split, 1)))


def _bytes_conf(conf, key: str, default: int) -> int:
    """Parse a Spark size conf ('134217728', '134217728b', '128m')."""
    raw = str(conf.get(key, str(default))).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "b": 1}
    mult = 1
    while raw and raw[-1] in units:
        mult *= units[raw[-1]]
        raw = raw[:-1]
    return int(raw) * mult if raw else default
