"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 \
        [--master local[N]]

Workloads (inputs and planted shares in ``perfbench/workloads.json``):
``corpus_dedup`` (corpus cleaning and near-duplicate clustering) and
``events_stream`` (open-loop stream), the two listed in ``BENCHMARK.json``,
and ``orders_flow`` (batch ETL), which runs the same way by name but is
left out of the list to keep the full set of benchmark runs within its
time budget.
Inputs are generated from ``--seed``; every run's output is checked
against planted truth and DuckDB. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.perfbench/`` in
the directory it is started from.

Set-up (``setup_s``) is one JVM and session start plus one warm-up pass
on inputs of another seed (``orders_flow`` at a fifth of its size,
``corpus_dedup`` at its full size, the stream over its whole measured
schedule); input generation is not part of it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# name -> unit; the order is the order printed
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "core.compose_s": "s",
    "core.ok_rows": "rows",
    "core.dead_letter_rows": "rows",
    "plan.nodes": "count",
    "plan.exchanges": "count",
    "plan.broadcasts": "count",
    "plan.inmemory_scans": "count",
    "plan.shuffle_write_bytes": "B",
    "plan.spill_bytes": "B",
    "plan.python_evals": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.gc_ms": "ms",
    "functions.python_cpu_s": "s",
    "datapipe.prep_s": "s",
    "datapipe.near_dup_s": "s",
    "datapipe.cluster_s": "s",
    "datapipe.candidate_pairs": "count",
    "datapipe.verified_pairs": "count",
    "datapipe.verified_ratio": "ratio",
    "sources.write_s": "s",
    "sources.bytes_written": "B",
    "sources.sink_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "rows",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_commit_ms": "ms",
    "streaming.backlog_files_max": "files",
    "stream.latency_ms_p50": "ms",
    "stream.latency_ms_p99": "ms",
    "stream.latency_samples": "count",
    "stream.sustainable_eps": "events/s",
    "generator.late_ms_p50": "ms",
    "generator.late_ms_max": "ms",
    "control.guard_ms_p50": "ms",
    "control.limiter_waits": "count",
    "control.breaker_opens": "count",
    "control.retry_attempts": "count",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    "old_gen_peak_mb": "MB",
    "failed_frac": "ratio",
}


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The final output line: every metric in ``units``, by name, with its unit."""
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[2]")
    return ap.parse_args(argv)


def prepare_environment(root: str, work: str) -> None:
    """Keep every file the run writes, Spark's included, under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # the program's own memory settings, whatever the caller's environment
    for var in ("PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    # the Python workers import the program too, whatever their directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pipz_spark")):
        print("perfbench: run from the repository root (no pipz_spark/ here)", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = args.master.strip("local[]")
    os.environ["SPARK_GRAFT_CPUS"] = cores
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(root, work)
    try:
        return measure(args, spec["workloads"][args.workload], work, root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def make_workload(name: str, cfg: dict, seed: int, work: str, seconds: float):
    if name == "orders_flow":
        from orders_flow import OrdersFlow
        return OrdersFlow(cfg, seed, work)
    if name == "corpus_dedup":
        from corpus_dedup import CorpusDedup
        return CorpusDedup(cfg, seed, work)
    from events_stream import EventsStream
    return EventsStream(cfg, seed, work, seconds)


def measure(args, cfg: dict, work: str, root: str) -> int:
    from harness import Session

    wl = make_workload(args.workload, cfg, args.seed, work, args.seconds)
    wl.generate()
    session = Session(args.master, session_conf(work))
    start_s = session.start()
    try:
        t0 = time.perf_counter()
        warm_check = wl.warm(session)
        warm_s = time.perf_counter() - t0
        warm_failures = warm_check()
        res = wl.measure(session, args.seconds, bool(args.trace))
    finally:
        session.stop()
    attempted = res["attempted"] + 1
    failed = res["failed"] + (1 if warm_failures else 0)
    failures = list(warm_failures) + res["failures"]
    for msg in failures[:10]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    values = dict(res["e2e"])
    values["setup_s"] = start_s + warm_s
    values["ok_frac"] = 1.0 - failed / attempted
    print(json.dumps({"detail": res.get("detail", {}), "start_s": start_s,
                      "warm_s": warm_s, "peak_rss_mb": values["peak_rss_mb"],
                      "old_gen_peak_mb": values["old_gen_peak_mb"],
                      "run_walls_s": [r.get("wall_s") for r in res.get("runs", [])]}))
    if args.trace:
        layer = dict(res["layer"])
        layer.update({"session.start_s": start_s, "session.warm_s": warm_s,
                      "peak_rss_mb": values["peak_rss_mb"],
                      "old_gen_peak_mb": values["old_gen_peak_mb"],
                      "failed_frac": failed / attempted})
        trace_dir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"layer": layer, "e2e": values, "runs": res.get("runs", []),
                       **res["trace"]}, f, default=str)
        print(result_line(not failures, attempted, failed, layer, PER_LAYER))
    else:
        print(result_line(not failures, attempted, failed, values, END_TO_END))
    return 0


if __name__ == "__main__":
    sys.exit(main())
