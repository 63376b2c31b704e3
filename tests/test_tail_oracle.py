"""Local oracle gate for the registry TAIL (entries past the
driver's 50-row correctness truncation).

The tail holds machinery twins by policy, but r5 proved that parking
ANYTHING past the cutoff without a hard check lets breaks ship
unobserved (events_sessions). This test runs every tail query against
its DuckDB oracle at sf0.001 in pytest, so the tail has the same
exact-match gate as the top 50 — just enforced locally instead of by
the driver.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from oracle_suite.queries import QUERIES
from pipz_spark.sources.catalog import TABLES
from oracle_suite.oracle import relation_type_issues

from conftest import SF_DIR

TAIL = list(QUERIES)[50:]


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            # driver-style float canonicalization
            vals.append(round(v, 9) if isinstance(v, float) else v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", TAIL)
def test_tail_query_matches_oracle(spark, oracle, name):
    decl = QUERIES[name]
    assert decl.oracle is not None, f"{name} has no oracle SQL"
    sdf = decl.build(spark, SF_DIR)
    spark_rows = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    rel = oracle.sql(decl.oracle)
    # r8 lesson: value comparison can't see DuckDB integer widening
    # (SUM → HUGEINT) but the driver's value-hash can — the oracle's
    # output TYPES must map onto the Spark schema too
    assert relation_type_issues(rel, sdf.schema) == [], name
    cols = list(rel.columns)
    oracle_rows = _canon(cols, rel.fetchall())
    assert sorted(sdf.columns) == sorted(cols)
    assert len(spark_rows) == len(oracle_rows), f"{name}: row count"
    for a, b in zip(spark_rows, oracle_rows):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                fx = float("nan") if x is None else float(x)
                fy = float("nan") if y is None else float(y)
                assert (math.isnan(fx) and math.isnan(fy)) or abs(fx - fy) < 1e-9, (
                    f"{name}: {a} != {b}"
                )
            else:
                assert x == y, f"{name}: {a} != {b}"
