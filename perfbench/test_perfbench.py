"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py

The check tests build correct outputs at a tiny size from the generators'
planted truth and DuckDB, then corrupt them one way at a time (a dropped
row, a missing dead letter, two distinct documents merged) and require
the check to fail. ``test_checks_on_program`` runs every workload's
warm-up pass through the real program on one Spark session and requires
its checks to pass, then to fail on a landed output with one row dropped.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def _write(rows: list[dict], path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))
    return path


# ---------------------------------------------------------------- printer


def test_printer_emits_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, declared, units in ((0, bench["end_to_end"], run.END_TO_END),
                                   (1, bench["per_layer"], run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in declared} == units
        line = json.loads(run.result_line(True, 3, 0, {"setup_s": 1.5}, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(units)
        for name, unit in units.items():
            assert line["metrics"][name]["unit"] == unit
            assert isinstance(line["metrics"][name]["value"], float)
    assert {w["name"] for w in bench["workloads"]} <= set(_spec())


def test_generators_are_deterministic():
    a = gen.make_orders(7, 500, 50, 0.1, 0.05, 0.03)
    b = gen.make_orders(7, 500, 50, 0.1, 0.05, 0.03)
    assert a[0].equals(b[0]) and a[2].invalid == b[2].invalid
    c1, t1 = gen.make_corpus(7, 300, 40, 0.05, 10, 3, 2, 0.04, 0.03)
    c2, t2 = gen.make_corpus(7, 300, 40, 0.05, 10, 3, 2, 0.04, 0.03)
    assert c1.equals(c2) and t1.near_clusters == t2.near_clusters


# ---------------------------------------------------------------- orders


@pytest.fixture
def orders_case(tmp_path):
    orders, cust, truth = gen.make_orders(3, 2000, 100, 0.1, 0.05, 0.03)
    inputs = {"orders": str(tmp_path / "orders.parquet"),
              "customers": str(tmp_path / "customers.parquet")}
    gen.write_table(orders, inputs["orders"])
    gen.write_table(cust, inputs["customers"])
    con = duckdb.connect()
    ref = checks.ORDERS_REFERENCE.format(orders=checks._parquet(inputs["orders"]),
                                         customers=checks._parquet(inputs["customers"]))
    ok = con.execute(ref).arrow()
    dead = [{"o_id": i, "_error_message": m} for i, m in truth.invalid.items()]
    alerts: dict[str, int] = {}
    for m in truth.invalid.values():
        alerts[m] = alerts.get(m, 0) + 1
    return tmp_path, inputs, truth, ok, dead, alerts


def _orders_out(tmp_path, name, ok, dead) -> dict:
    os.makedirs(tmp_path / name / "ok")
    pq.write_table(ok, tmp_path / name / "ok" / "part-0.parquet")
    return {"ok": str(tmp_path / name / "ok"),
            "dead": _write(dead, str(tmp_path / name / "dead"))}


def test_orders_check_passes_on_correct_output(orders_case):
    tmp, inputs, truth, ok, dead, alerts = orders_case
    assert checks.check_orders(inputs, _orders_out(tmp, "good", ok, dead), truth, alerts) == []


def test_orders_check_fails_on_a_dropped_row(orders_case):
    tmp, inputs, truth, ok, dead, alerts = orders_case
    out = _orders_out(tmp, "dropped", ok.slice(1), dead)
    assert checks.check_orders(inputs, out, truth, alerts)


def test_orders_check_fails_on_a_changed_value(orders_case):
    tmp, inputs, truth, ok, dead, alerts = orders_case
    tax = ok.column("o_tax_cents").to_pylist()
    tax[0] = (tax[0] or 0) + 1
    changed = ok.set_column(ok.schema.get_field_index("o_tax_cents"), "o_tax_cents",
                            pa.array(tax, pa.int64()))
    out = _orders_out(tmp, "changed", changed, dead)
    assert checks.check_orders(inputs, out, truth, alerts)


def test_orders_check_fails_on_a_lost_dead_letter(orders_case):
    tmp, inputs, truth, ok, dead, alerts = orders_case
    out = _orders_out(tmp, "lost", ok, dead[1:])
    assert checks.check_orders(inputs, out, truth, alerts)


# ---------------------------------------------------------------- corpus


@pytest.fixture
def corpus_case(tmp_path):
    table, truth = gen.make_corpus(5, 300, 40, 0.05, 10, 3, 2, 0.04, 0.03)
    ids = table.column("doc_id").to_pylist()
    dup_copies = {d for g in truth.exact_groups for d in g if d != min(g)}
    survivors = [d for d in ids if d not in truth.dead and d not in dup_copies]
    rep = {m: min(ms) for ms in truth.near_clusters for m in ms}
    clusters = [(d, rep.get(d, d), rep.get(d, d) == d) for d in survivors]
    return tmp_path, truth, survivors, clusters


def _corpus_out(tmp_path, name, survivors, dead) -> dict:
    return {"ok": _write([{"doc_id": d} for d in survivors], str(tmp_path / name / "ok")),
            "dead": _write([{"doc_id": d} for d in dead], str(tmp_path / name / "dead"))}


def test_corpus_check_passes_on_correct_output(corpus_case):
    tmp, truth, survivors, clusters = corpus_case
    out = _corpus_out(tmp, "good", survivors, sorted(truth.dead))
    assert checks.check_corpus(out, truth, clusters) == []


def test_corpus_check_fails_on_a_merged_distinct_pair(corpus_case):
    tmp, truth, survivors, clusters = corpus_case
    planted = {m for ms in truth.near_clusters for m in ms}
    a, b = [d for d in survivors if d not in planted][:2]
    merged = [(d, min(a, b) if d in (a, b) else c, k if d not in (a, b) else d == min(a, b))
              for d, c, k in clusters]
    out = _corpus_out(tmp, "merged", survivors, sorted(truth.dead))
    assert checks.check_corpus(out, truth, merged)


def test_corpus_check_fails_on_a_split_cluster(corpus_case):
    tmp, truth, survivors, clusters = corpus_case
    member = max(truth.near_clusters[0])
    split = [(d, d if d == member else c, True if d == member else k) for d, c, k in clusters]
    out = _corpus_out(tmp, "split", survivors, sorted(truth.dead))
    assert checks.check_corpus(out, truth, split)


def test_corpus_check_fails_on_a_kept_exact_duplicate(corpus_case):
    tmp, truth, survivors, clusters = corpus_case
    copy = max(truth.exact_groups[0])
    kept = survivors + [copy]
    out = _corpus_out(tmp, "kept", kept, sorted(truth.dead))
    assert checks.check_corpus(out, truth, clusters + [(copy, copy, True)])


# ---------------------------------------------------------------- events


@pytest.fixture
def events_case(tmp_path):
    plan = gen.stream_schedule([(200, 1.0)], 0.1)
    files, truth = gen.make_event_files(9, plan, 20, 0.05, 0.05)
    source = tmp_path / "source"
    for k, cols in enumerate(files):
        gen.write_table(gen.event_table(cols, 0.0, plan), str(source / f"part-{k:05d}.parquet"))
    con = duckdb.connect()
    src = f"read_parquet('{source}/part-*.parquet')"
    totals = [tuple(r) for r in con.execute(checks.EVENTS_REFERENCE.format(src=src)).fetchall()]
    all_ids = {r[0] for r in con.execute(f"SELECT DISTINCT event_id FROM {src}").fetchall()}
    return str(source), truth, totals, all_ids - truth.malformed


def test_events_check_passes_on_correct_output(events_case):
    source, truth, totals, landed = events_case
    assert checks.check_events(source, totals, landed, set(truth.malformed), truth) == []


def test_events_check_fails_on_a_lost_event(events_case):
    source, truth, totals, landed = events_case
    assert checks.check_events(source, totals, set(sorted(landed)[1:]),
                               set(truth.malformed), truth)


def test_events_check_fails_on_wrong_totals(events_case):
    source, truth, totals, landed = events_case
    user, n, total = totals[0]
    bad = [(user, n, total + 1)] + totals[1:]
    assert checks.check_events(source, bad, landed, set(truth.malformed), truth)


# ---------------------------------------------------------------- program


def test_checks_on_program(tmp_path):
    """Every workload's warm-up pass through the real program passes
    its check; the same output with one landed row dropped fails it."""
    if not os.path.isdir(os.path.join(ROOT, "pipz_spark")):
        pytest.skip("needs the program at the repository root")
    work = str(tmp_path / "work")
    run.prepare_environment(ROOT, work)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    from harness import Session

    spec = _spec()
    session = Session("local[2]", run.session_conf(work))
    session.start()
    try:
        for name in ("orders_flow", "corpus_dedup"):
            wl = run.make_workload(name, spec[name], 1, os.path.join(work, name), 1.0)
            wl.generate()
            out_dir = os.path.join(wl.work, "check")
            from pipz_spark.control import SignalBus
            from harness import Tracer

            info = wl.run_once(session.spark, wl.warm_inputs, out_dir, SignalBus(), Tracer(False))
            assert wl.check(info, warm=True) == [], name
            ok_dir = info["out"]["ok"]
            part = sorted(f for f in os.listdir(ok_dir) if f.endswith(".parquet"))[0]
            table = pq.read_table(os.path.join(ok_dir, part))
            pq.write_table(table.slice(1), os.path.join(ok_dir, part))
            assert wl.check(info, warm=True), name
        stream = run.make_workload("events_stream", spec["events_stream"], 1,
                                   os.path.join(work, "events_stream"), 1.0)
        stream.generate()
        assert stream.warm(session)() == []
    finally:
        session.stop()
