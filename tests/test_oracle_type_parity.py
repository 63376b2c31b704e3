"""Unit gate for oracle_suite.oracle — the r8 masking-hole fix.

CORRECTNESS_r08 proved the local value-compare gates are blind to
DuckDB's integer-SUM widening (HUGEINT) while the driver's value-hash
is not. These tests pin the parity helper's behavior directly against
live DuckDB relations, including the exact shapes that went driver-red
in r8 (uncast ``SUM`` and ``//``/``%`` over a window ``SUM``), so
re-introducing the pattern fails pytest even before the full oracle
sweep runs.
"""

from __future__ import annotations

import duckdb
import pytest

from oracle_suite.oracle import type_parity_issues

from pyspark.sql import types as T


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def _issues(con, sql, spark_types):
    rel = con.sql(sql)
    return type_parity_issues(list(rel.columns), list(rel.types), spark_types)


def test_uncast_sum_widens_to_hugeint_and_fails(con):
    # the dp_ngram_repetition r8 bug in miniature: SUM(BIGINT) → HUGEINT
    sql = "SELECT SUM(x) AS n FROM (SELECT CAST(1 AS BIGINT) AS x)"
    assert str(con.sql(sql).types[0]).upper() == "HUGEINT"
    issues = _issues(con, sql, {"n": "bigint"})
    assert len(issues) == 1 and "no Spark counterpart" in issues[0]


def test_cast_sum_passes(con):
    sql = "SELECT CAST(SUM(x) AS BIGINT) AS n FROM (SELECT CAST(1 AS BIGINT) AS x)"
    assert _issues(con, sql, {"n": "bigint"}) == []


def test_intdiv_and_mod_over_widened_operand_fail(con):
    # the dp_pack_sequences r8 bug in miniature: st0 is a (widened)
    # window SUM; // and % stay HUGEINT
    sql = (
        "SELECT st0 // 256 AS pack_id, st0 % 256 AS pack_offset FROM "
        "(SELECT SUM(x) OVER () AS st0 FROM (SELECT CAST(7 AS BIGINT) AS x))"
    )
    issues = _issues(con, sql, {"pack_id": "bigint", "pack_offset": "bigint"})
    assert len(issues) == 2


def test_decimal_against_double_fails(con):
    sql = "SELECT CAST(1.5 AS DECIMAL(18, 3)) AS v"
    issues = _issues(con, sql, {"v": "double"})
    assert len(issues) == 1 and "DECIMAL" in issues[0]


def test_matched_scalar_types_pass(con):
    sql = (
        "SELECT CAST(1 AS BIGINT) AS a, CAST(2 AS INTEGER) AS b, "
        "CAST(1.5 AS DOUBLE) AS c, 'x' AS d, TRUE AS e"
    )
    assert (
        _issues(
            con,
            sql,
            {"a": "bigint", "b": "int", "c": "double", "d": "string", "e": "boolean"},
        )
        == []
    )


def test_mapped_type_mismatch_fails(con):
    # INTEGER oracle vs bigint Spark: physical widths differ → red
    issues = _issues(con, "SELECT CAST(1 AS INTEGER) AS a", {"a": "bigint"})
    assert len(issues) == 1 and "hash-incompatible" in issues[0]


def test_unmapped_nested_types_skipped(con):
    assert _issues(con, "SELECT [1, 2] AS xs", {"xs": "array<bigint>"}) == []


def test_schema_gate_owns_missing_columns(con):
    # a column absent from the Spark schema is the schema gate's job
    assert _issues(con, "SELECT 1 AS only_in_oracle", {}) == []


def test_relation_wrapper_with_spark_schema(con):
    from oracle_suite.oracle import relation_type_issues

    rel = con.sql("SELECT SUM(x) AS n FROM (SELECT CAST(1 AS BIGINT) AS x)")
    schema = T.StructType([T.StructField("n", T.LongType())])
    assert len(relation_type_issues(rel, schema)) == 1


def test_every_registry_oracle_is_widening_free(con):
    """Static sweep: every executable oracle's OUTPUT types contain no
    widened integer/decimal the Spark side can't produce. Runs the
    oracles' PLANS only (DuckDB binds types without full execution on
    LIMIT 0 wrapping), over the sf0.001 views, so this stays cheap.

    This is the test that would have caught the two r8 driver-red rows
    before shipping; f-string-built oracles and CLUSTER_PAIR_ORACLES
    are included because we enumerate at runtime, not statically.
    """
    from oracle_suite.queries import CLUSTER_PAIR_ORACLES, QUERIES

    from conftest import SF_DIR
    from pipz_spark.sources.catalog import TABLES

    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad: list[str] = []
    sqls = {name: d.oracle for name, d in QUERIES.items() if d.oracle}
    sqls.update({f"pair:{k}": v for k, v in CLUSTER_PAIR_ORACLES.items()})
    forbidden = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "DECIMAL"}
    for name, sql in sqls.items():
        rel = c.sql(f"SELECT * FROM ({sql}) LIMIT 0")
        for col, dt in zip(rel.columns, rel.types):
            base = str(dt).split("(")[0].strip().upper()
            if base in forbidden:
                bad.append(f"{name}.{col}: {dt}")
    assert bad == [], f"widened oracle output types: {bad}"
