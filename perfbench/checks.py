"""Output checks, one per workload, against planted truth and DuckDB.

Each check returns a list of failure messages; an empty list means the
output is correct. DuckDB reads the generated input and the landed
output directly, so the reference never goes through Spark.
"""

from __future__ import annotations

import glob
import os

import duckdb


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def _parquet(path: str) -> str:
    """A read_parquet() source for a Spark output directory or one file."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
    return f"read_parquet('{path}')"


# ---------------------------------------------------------------- orders

ORDERS_REFERENCE = """
WITH v AS (
  SELECT * FROM {orders}
  WHERE o_price_cents > 0 AND o_qty > 0 AND o_status IN ('O', 'F', 'P')
), t AS (
  SELECT o_id, o_custkey, o_region, upper(o_priority) AS o_priority,
         CASE WHEN o_qty >= 10 THEN (o_price_cents * o_qty * 9) // 10
              ELSE o_price_cents * o_qty END AS o_total_cents
  FROM v
)
SELECT t.*, c.c_segment, c.c_nation,
       CASE o_region WHEN 'NA' THEN o_total_cents * 8 // 100
                     WHEN 'EU' THEN o_total_cents * 20 // 100
                     WHEN 'APAC' THEN o_total_cents * 10 // 100 END AS o_tax_cents
FROM t LEFT JOIN {customers} c ON t.o_custkey = c.c_custkey
"""

ORDERS_CHECKSUM = """
SELECT count(*), coalesce(sum(hash(o_id::BIGINT, o_custkey::BIGINT, o_region, o_priority,
       o_total_cents::BIGINT, coalesce(o_tax_cents::BIGINT, -1),
       coalesce(c_segment, '-'), coalesce(c_nation, '-'))::HUGEINT), 0)
FROM ({rel})
"""


def check_orders(inputs: dict, out: dict, truth, alerts: dict) -> list[str]:
    """Dead letters equal the planted invalid rows (ids and messages),
    the handler saw the same per-message counts, and an order-independent
    checksum of the ok output equals DuckDB over the generated input."""
    con = _connect()
    fails: list[str] = []
    dead = dict(con.execute(
        f"SELECT o_id, _error_message FROM {_parquet(out['dead'])}").fetchall())
    if dead != truth.invalid:
        missing = set(truth.invalid) - set(dead)
        extra = set(dead) - set(truth.invalid)
        fails.append(f"orders dead letters differ: {len(missing)} missing, "
                     f"{len(extra)} unexpected, {len(dead)} landed")
    want_alerts: dict[str, int] = {}
    for msg in truth.invalid.values():
        want_alerts[msg] = want_alerts.get(msg, 0) + 1
    if alerts != want_alerts:
        fails.append(f"orders handler counts {alerts} != planted {want_alerts}")
    ref = ORDERS_REFERENCE.format(orders=_parquet(inputs["orders"]),
                                  customers=_parquet(inputs["customers"]))
    want = con.execute(ORDERS_CHECKSUM.format(rel=ref)).fetchone()
    got = con.execute(ORDERS_CHECKSUM.format(
        rel=f"SELECT * FROM {_parquet(out['ok'])}")).fetchone()
    if got != want:
        fails.append(f"orders ok checksum {got} != reference {want}")
    return fails


# ---------------------------------------------------------------- corpus


def check_corpus(out: dict, truth, clusters: list[tuple[int, int, bool]]) -> list[str]:
    """Planted exact duplicates are removed (the smallest id survives),
    dead letters are exactly the planted low-quality and poison
    documents, every planted near-duplicate cluster collapses to one
    keeper, and no two planted-distinct documents share a cluster."""
    con = _connect()
    fails: list[str] = []
    ok_ids = {r[0] for r in con.execute(
        f"SELECT doc_id FROM {_parquet(out['ok'])}").fetchall()}
    dead_ids = {r[0] for r in con.execute(
        f"SELECT doc_id FROM {_parquet(out['dead'])}").fetchall()}
    if dead_ids != truth.dead:
        fails.append(f"corpus dead letters: {len(truth.dead - dead_ids)} missing, "
                     f"{len(dead_ids - truth.dead)} unexpected")
    for group in truth.exact_groups:
        if {d for d in group if d in ok_ids} != {min(group)}:
            fails.append(f"exact duplicate group {group} not reduced to its smallest id")
            break
    expected_ok = truth.docs - len(truth.dead) - sum(len(g) - 1 for g in truth.exact_groups)
    if len(ok_ids) != expected_ok:
        fails.append(f"corpus survivors {len(ok_ids)} != expected {expected_ok}")
    cluster_of = {d: c for d, c, _ in clusters}
    keepers = {d for d, _, k in clusters if k}
    if set(cluster_of) != ok_ids:
        fails.append("cluster assignment does not cover exactly the survivors")
    planted = set()
    for members in truth.near_clusters:
        planted.update(members)
        labels = {cluster_of.get(m) for m in members}
        if len(labels) != 1 or len({m for m in members if m in keepers}) != 1:
            fails.append(f"near-duplicate cluster {members} did not collapse to one keeper")
            break
    seen: dict[int, int] = {}
    owner = {m: i for i, ms in enumerate(truth.near_clusters) for m in ms}
    for d, c in cluster_of.items():
        group = owner.get(d, -1 - d)  # every unplanted survivor is its own group
        if seen.setdefault(c, group) != group:
            fails.append(f"planted-distinct documents merged into cluster {c}")
            break
    return fails


# ---------------------------------------------------------------- events

EVENTS_REFERENCE = """
WITH firsts AS (
  SELECT DISTINCT ON (event_id) * FROM {src} ORDER BY event_id
)
SELECT user_id, count(*)::BIGINT AS n, sum(value)::BIGINT AS total
FROM firsts WHERE json_valid(props)
GROUP BY user_id ORDER BY user_id
"""


def check_events(source: str, landed: list[tuple[int, int, int]],
                 landed_ids: set[int], dead_ids: set[int], truth) -> list[str]:
    """Landed per-user totals equal DuckDB over the generated events minus
    the planted duplicates; every distinct event is either landed or dead
    lettered (none lost), and the dead letters are the malformed events."""
    con = _connect()
    fails: list[str] = []
    src = f"read_parquet('{os.path.join(source, 'part-*.parquet')}')"
    want = [tuple(r) for r in con.execute(EVENTS_REFERENCE.format(src=src)).fetchall()]
    if sorted(landed) != want:
        fails.append("landed per-user totals differ from the reference")
    all_ids = {r[0] for r in con.execute(f"SELECT DISTINCT event_id FROM {src}").fetchall()}
    if dead_ids != truth.malformed:
        fails.append(f"events dead letters: {len(truth.malformed - dead_ids)} missing, "
                     f"{len(dead_ids - truth.malformed)} unexpected")
    lost = all_ids - landed_ids - dead_ids
    if lost:
        fails.append(f"{len(lost)} events lost")
    if landed_ids & dead_ids:
        fails.append("events both landed and dead-lettered")
    return fails
