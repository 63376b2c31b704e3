"""Local mirror of the driver's correctness gate.

Runs every declared query at sf0.01 on Spark AND its oracle SQL on
DuckDB, then compares row count, schema (column names), and values
(columns sorted by name, rows sorted, exact comparison with a float
report so precision-fragile queries surface BEFORE the driver sees
them).

Usage:  python tools/check_correctness.py [query ...]

Cross-SF sweep — ONE command that exits nonzero on any divergence at
ten times the driver's scale (the repo's documented pre-round gate):

    PIPZ_CHECK_SF_DIR=/root/testdata/sf0.1 python tools/check_correctness.py

At any SF dir other than the driver's sf0.01, the two cluster
queries switch from their recursive-CTE closure oracles (intractable
for DuckDB on sf0.1's dense template cliques) to the pair-graph gate:
DuckDB derives the EXACT edge set
(oracle_suite.queries.CLUSTER_PAIR_ORACLES — the full oracle's
prefix, covering all the engine-divergence-prone semantics), a
union-find closes it, and the Spark labels are compared
component-for-component (cluster_id = component min, keeper = min
id). Full equality against ground truth, closure done by an exact
linear-time algorithm instead of a quadratic recursive join.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the driver gates at sf0.01; override (e.g. sf0.1) to validate the
# same oracles at 10× the data — engine-vs-engine agreement that
# holds across scale factors is much stronger evidence than one point

SF_DIR = os.environ.get("PIPZ_CHECK_SF_DIR", "/root/testdata/sf0.01")


def canon(df):
    """Sort columns by name, rows by string form — order-insensitive."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def compare(name, sdf, odf):
    issues = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"schema mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        issues.append(f"rowcount mismatch: spark={len(sdf)} oracle={len(odf)}")
        return issues
    s, o = canon(sdf), canon(odf)
    max_float_diff = 0.0
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if a is None and b is None:
                continue
            if isinstance(a, float) or isinstance(b, float):
                fa = float("nan") if a is None else float(a)
                fb = float("nan") if b is None else float(b)
                if math.isnan(fa) and math.isnan(fb):
                    continue
                if fa != fb:
                    max_float_diff = max(max_float_diff, abs(fa - fb))
                    if abs(fa - fb) > 1e-9:
                        issues.append(f"col {col} row {i}: {a!r} != {b!r}")
                        if len(issues) > 5:
                            return issues
            elif a != b:
                issues.append(f"col {col} row {i}: {a!r} != {b!r}")
                if len(issues) > 5:
                    return issues
    if max_float_diff > 0:
        issues.append(f"NOTE float bits differ (max {max_float_diff:.3e}) — hash would MISMATCH")
    return issues


def check_clusters_via_pairs(
    name, sdf, con, pair_sql, table="documents", id_col="doc_id"
):
    """Compare an (id, cluster_id, is_keeper) frame against the
    union-find closure of the DuckDB-derived exact pair graph;
    (table, id_col) name the corpus whose membership is ground truth
    (documents for the text families, embeddings for SemDeDup)."""
    edges = con.sql(pair_sql).fetchall()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    rows = list(sdf.itertuples(index=False))
    ids = [getattr(r, id_col) for r in rows]
    # row membership is part of ground truth too (r8 review): the
    # full sf0.01 oracle emits exactly one row per documents row, so
    # a Spark result that silently drops or duplicates a doc not
    # involved in any pair must FAIL here, not self-define the id set
    table_ids = {r[0] for r in con.sql(f"SELECT {id_col} FROM {table}").fetchall()}
    if len(ids) != len(set(ids)):
        return ["duplicate doc_id rows in the Spark output"]
    if set(ids) != table_ids:
        missing = sorted(table_ids - set(ids))[:5]
        extra = sorted(set(ids) - table_ids)[:5]
        return [
            f"output id set != {table} id set "
            f"(missing {missing}, extra {extra})"
        ]
    for i in ids:
        root = find(i)
        want.setdefault(root, []).append(i)
    label = {}
    for members in want.values():
        m = min(members)
        for i in members:
            label[i] = m
    issues = []
    edge_ids = {x for e in edges for x in e}
    if not edge_ids.issubset(set(ids)):
        issues.append("pair graph references ids missing from the output")
    for r in rows:
        rid = getattr(r, id_col)
        w = label[rid]
        if r.cluster_id != w or bool(r.is_keeper) != (rid == w):
            issues.append(
                f"{id_col} {rid}: got (cluster={r.cluster_id}, "
                f"keeper={r.is_keeper}), want (cluster={w}, keeper={rid == w})"
            )
            if len(issues) > 5:
                return issues
    return issues


def main():
    import duckdb

    import __spark_entry__ as entrymod
    from oracle_suite.queries import CLUSTER_PAIR_ORACLES
    from pipz_spark.session import get_session
    from pipz_spark.sources.catalog import TABLES
    from oracle_suite.oracle import relation_type_issues

    only = set(sys.argv[1:])
    spark = get_session("correctness", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, build in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sframe = build(spark, SF_DIR)
            spark_schema = sframe.schema
            sdf = sframe.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            from pipz_spark.datapipe import release_caches

            release_caches()
        if name in CLUSTER_PAIR_ORACLES and not SF_DIR.rstrip("/").endswith("sf0.01"):
            # cross-SF: recursive-closure oracle intractable — gate
            # against the union-find closure of the exact pair graph
            try:
                from oracle_suite.queries import CLUSTER_PAIR_META

                tbl, idc = CLUSTER_PAIR_META.get(name, ("documents", "doc_id"))
                issues = check_clusters_via_pairs(
                    name, sdf, con, CLUSTER_PAIR_ORACLES[name], tbl, idc
                )
            except Exception as e:
                issues = [f"pair-graph gate error: {e}"]
            if issues:
                print(f"FAIL  {name} (pair-graph gate, {len(sdf)} rows) [{time.time()-t0:.1f}s]")
                for i in issues:
                    print(f"      {i}")
                n_fail += 1
            else:
                print(
                    f"OK    {name}: {len(sdf)} rows exact vs union-find of "
                    f"the SQL pair graph [{time.time()-t0:.1f}s]"
                )
                n_pass += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (rows-only check) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            # r8 lesson: value comparison is blind to DuckDB's integer
            # widening (SUM → HUGEINT) but the driver's hash is not —
            # gate the oracle's OUTPUT TYPES before the values
            type_issues = relation_type_issues(rel, spark_schema)
            odf = rel.df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            n_fail += 1
            continue
        issues = type_issues + compare(name, sdf, odf)
        if issues:
            print(f"FAIL  {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            for i in issues:
                print(f"      {i}")
            n_fail += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows exact match [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
