"""Per-row error model — the Either column.

Spark-native analog of the reference's ``Error[T]``
(reference: error.go:18-26) and its fail-fast semantics
(reference: sequence.go:130-161). Instead of returning ``(T, error)``
per value, every Step's output DataFrame carries one nullable struct
column ``_pipz_error``:

    STRUCT<path     ARRAY<STRING>,   -- operator names, outermost first
           message  STRING,
           timeout  BOOLEAN,
           canceled BOOLEAN>

``NULL`` error = the row is on the happy path. Once set, downstream
Steps skip the row (their column updates are guarded by
``error IS NULL``) — the distributed equivalent of pipz returning
early from ``Sequence.Process`` (reference: sequence.go:146-151).

Deliberate divergence from the reference: ``Error[T]`` also carries
``Timestamp`` and ``Duration`` (error.go:19,23). Those are
nondeterministic per run, so they are NOT materialized in the column
(SURVEY §7.3.6 excludes them from oracle hashes anyway); wall-clock
accounting lives in the driver-side signal bus instead.

Everything here is pure Column-expression generation — no UDFs, no
Python in the row path — so Catalyst folds the guards into
whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence as Seq

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ERROR_COL = "_pipz_error"

ERROR_SCHEMA = T.StructType(
    [
        T.StructField("path", T.ArrayType(T.StringType()), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("timeout", T.BooleanType(), True),
        T.StructField("canceled", T.BooleanType(), True),
    ]
)


def is_ok() -> Column:
    """Row is on the happy path (no upstream Step failed it)."""
    return F.col(ERROR_COL).isNull()


def is_failed() -> Column:
    return F.col(ERROR_COL).isNotNull()


def null_error() -> Column:
    """A typed NULL error struct (schema-stable across unions)."""
    return F.lit(None).cast(ERROR_SCHEMA)


def make_error(
    path: Seq[str],
    message: Column | str,
    timeout: bool | Column = False,
    canceled: bool = False,
) -> Column:
    """Build an error struct Column with a static path.

    The path is known statically because the combinator tree is frozen
    at composition time — the compile-time mirror of the reference
    prepending connector identities as errors bubble up
    (reference: sequence.go:149, switch.go:115, filter.go:105).
    """
    msg = F.lit(message) if isinstance(message, str) else message
    # timeout may be per-ROW (a Column) — python_apply's per-value
    # deadline marks individual rows, mirroring error.go:22
    to = F.lit(timeout) if isinstance(timeout, bool) else timeout.cast("boolean")
    return F.struct(
        F.array(*[F.lit(p) for p in path]).alias("path"),
        msg.cast(T.StringType()).alias("message"),
        to.alias("timeout"),
        F.lit(canceled).alias("canceled"),
    )


def ensure_error_column(df: DataFrame) -> DataFrame:
    """Idempotently attach the NULL error column."""
    if ERROR_COL in df.columns:
        return df
    return df.withColumn(ERROR_COL, null_error())


def split_ok(df: DataFrame) -> DataFrame:
    """Happy-path rows, error column dropped (terminal projection)."""
    df = ensure_error_column(df)
    return df.where(is_ok()).drop(ERROR_COL)


def split_failed(df: DataFrame) -> DataFrame:
    """Dead-letter rows with the error struct intact."""
    df = ensure_error_column(df)
    return df.where(is_failed())


def error_path_str() -> Column:
    """`a -> b -> c` rendering of the path, mirroring the reference's
    Error.Error() format (reference: error.go:31-52) minus the
    nondeterministic duration suffix."""
    return F.array_join(F.col(ERROR_COL)["path"], " -> ")
