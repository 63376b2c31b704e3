"""Solo steady-state probe for declared queries (guide §1).

Times one or more declared queries in isolation through the noop sink
(min of N repeats — the bench's own methodology, without the other
156 queries' scheduler contention), and optionally captures
``explain("formatted")`` for the plans/ evidence files.

Usage:
    python tools/probe.py [-n RUNS] [--plan-dir plans/r16] [--tag before] q1 q2 ...

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

import pandas as pd  # module-level: pandas_udf type hints must resolve globally

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipz_spark.datapipe import release_caches  # noqa: E402
from oracle_suite.queries import QUERIES  # noqa: E402
from pipz_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3, help="repeats per query")
    ap.add_argument("--plan-dir", default=None, help="write explain(formatted) here")
    ap.add_argument("--tag", default="before", help="plan file suffix (before/after)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("pipz-spark-probe")
    # same warm-ups as bench.py so the first run isn't billed cold costs
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(1).collect()
    spark.range(100).selectExpr("id", "id * 2 as x").write.format("noop").mode(
        "overwrite"
    ).save()
    import tempfile

    spark.range(100).write.mode("overwrite").parquet(
        os.path.join(tempfile.mkdtemp(prefix="pipz_probe_warm_"), "w.parquet")
    )
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(10000, numPartitions=32).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    if any(q.startswith("stream_") for q in args.queries):
        from oracle_suite.streams import replay_events_files

        replay_events_files(spark, sf_dir, order_by_ts=True)

    def cal() -> float:
        # the bench's plan-invariant machine-speed yardstick: this
        # host's speed swings ~2x over tens of minutes (hypervisor
        # neighbors), so a probe without a contemporaneous cal
        # reading cannot be compared to one taken earlier
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            spark.range(0, 200_000_000, 1, 32).selectExpr(
                "bit_xor(xxhash64(id)) as h"
            ).collect()
            best = min(best, time.time() - t0)
        return best

    print(f"cal_start={cal():.3f}", flush=True)

    for name in args.queries:
        decl = QUERIES[name]
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                decl.build(spark, sf_dir).explain("formatted")
            release_caches()
            with open(os.path.join(args.plan_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        runs = []
        njobs = nstages = ntasks = 0
        for i in range(args.n):
            # job group per run: the StatusTracker then yields the
            # run's DETERMINISTIC cost shape (jobs/stages/tasks) —
            # host-noise-immune evidence next to the wall time, and
            # the direct measure of the scheduling overhead that
            # dominates skinny iterative queries at sf0.1
            group = f"probe:{name}:{i}"
            spark.sparkContext.setJobGroup(group, f"probe:{name}")
            t0 = time.time()
            try:
                decl.build(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.time() - t0)
            finally:
                release_caches()
                spark.sparkContext.setJobGroup(None, None)
            if i == args.n - 1:
                st = spark.sparkContext.statusTracker()
                jids = st.getJobIdsForGroup(group)
                njobs = len(jids)
                sids = set()
                for j in jids:
                    ji = st.getJobInfo(j)
                    if ji:
                        sids.update(ji.stageIds)
                nstages = len(sids)
                for s in sids:
                    si = st.getStageInfo(s)
                    if si:
                        ntasks += si.numTasks
        print(
            f"{name}: min={min(runs):.3f} jobs={njobs} stages={nstages} "
            f"tasks={ntasks} runs={[round(r, 3) for r in runs]}",
            flush=True,
        )
    print(f"cal_end={cal():.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
