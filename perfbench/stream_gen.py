"""Open-loop event generator, run as its own process.

Drops one parquet file per scheduled slot into the source directory and
never waits for the system under test: slot ``k`` is due at
``start + offset_k`` whatever the consumer is doing. Each file is written
under a hidden name and renamed into place, so the stream source never
lists a half-written file. When every file is out it writes one JSON
line per file (index, due time, time the file became visible) to the
log path, which the benchmark reads to report how late the generator ran.
The schedule starts ``lead_s`` seconds after the events are built.

    python3 perfbench/stream_gen.py SPEC_JSON SOURCE_DIR LOG_PATH
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def main(spec_path: str, source: str, log_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    plan = [tuple(p) for p in spec["plan"]]
    files, _ = gen.make_event_files(spec["seed"], plan, spec["users"],
                                    spec["dup_share"], spec["malformed_share"])
    # the schedule starts only once every file's events are built
    start = time.time() + spec["lead_s"]
    tables = [gen.event_table(cols, start * 1000.0, plan) for cols in files]
    os.makedirs(source, exist_ok=True)
    log = []
    for k, ((offset, _, _), table) in enumerate(zip(plan, tables)):
        due = start + offset
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(source, f".part-{k:05d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(source, f"part-{k:05d}.parquet"))
        log.append({"file": k, "due": due, "visible": time.time(),
                    "events": table.num_rows})
    with open(log_path, "w") as f:
        for entry in log:
            f.write(json.dumps(entry) + "\n")


if __name__ == "__main__":
    main(*sys.argv[1:4])
