"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The catalog itself lives in ``oracle_suite.queries`` (one Declared
entry per implemented operator from SURVEY.md §2 plus the datapipe
operators), the conformance suite kept outside the ``pipz_spark``
library; this file just adapts it to the driver's shape. The
driver truncates its gate at the first 50 entries, so the registry's
insertion order is curated and ROTATES per round — see the comment
block above ``QUERIES`` in oracle_suite/queries.py; everything past
the window is gated locally by tests/test_tail_oracle.py and
tools/check_correctness.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from oracle_suite.queries import QUERIES, flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: decl.build for name, decl in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; rows-only ops omitted."""
    return {
        name: decl.oracle for name, decl in QUERIES.items() if decl.oracle is not None
    }
