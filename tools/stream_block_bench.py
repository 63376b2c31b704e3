"""Measure ONLY the concurrent streaming block, the way bench.py runs
it — shared replay pre-materialized, six rigs in one thread pool —
so stream-rig tuning can iterate without paying the 70s batch suite.

Usage: python tools/stream_block_bench.py [repeats]
Prints one JSON line per repeat: {"stream_block_wall": s, "spans": {...}}.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_suite.queries import QUERIES  # noqa: E402
from pipz_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    # same scratch placement as bench.py: streaming checkpoint/landing
    # I/O belongs on tmpfs (production state stores live on local
    # NVMe), else this tool reads ~0.7s/block slower than the suite
    from bench import _tmpfs_scratch

    _tmpfs_scratch()
    spark = get_session("pipz-stream-block-bench")
    spark.range(1000).selectExpr("sum(id)").collect()
    import tempfile

    spark.range(100).write.mode("overwrite").parquet(
        os.path.join(tempfile.mkdtemp(prefix="pipz_bench_warm_"), "w.parquet")
    )
    from oracle_suite.streams import replay_events_files

    replay_events_files(spark, sf_dir, order_by_ts=True)

    # mirror bench.py's heaviest-first submission: starts serialize on
    # drain_stream's start lock, so the pacing rig must enter the pool first
    history = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "BENCH_LOCAL.json")) as f:
            history = {k: v for k, v in (json.load(f).get("queries") or {}).items()
                       if v is not None}
    except (OSError, ValueError):
        pass
    stream_decls = sorted(
        ((name, decl) for name, decl in QUERIES.items()
         if name.startswith("stream_")),
        key=lambda nd: -history.get(nd[0], float("inf")),
    )

    def one_stream(decl) -> float:
        t0 = time.time()
        decl.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    for _ in range(repeats):
        block_start = time.time()
        with concurrent.futures.ThreadPoolExecutor(
            max_workers=len(stream_decls)
        ) as ex:
            futures = {name: ex.submit(one_stream, decl) for name, decl in stream_decls}
            spans = {name: round(f.result(), 3) for name, f in futures.items()}
        wall = round(time.time() - block_start, 3)
        print(json.dumps({"stream_block_wall": wall, "spans": spans}))


if __name__ == "__main__":
    main()
