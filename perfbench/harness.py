"""Measurement machinery shared by the workloads.

* ``Session`` launches a SparkSession on a fresh JVM through the
  program's own ``get_session``, and on stop waits until the JVM and its
  Python workers have exited.
* ``ProcTree`` reads CPU time and peak resident memory of the JVM and
  every process below it (the Python workers) from ``/proc``.
* ``Session.old_gen_peak_mb`` reads the peak occupancy of the JVM heap's
  old generation from its memory-pool MXBean.
* ``SparkCounters`` reads the scheduler (jobs, stages, tasks), JVM GC
  time and the SQL metrics of every executed plan. It is read only after
  a timer stops, never inside a timed region.
* ``Tracer`` keeps spans and signal counts in memory. A disabled tracer
  records nothing and subscribes to nothing.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import signal
import statistics
import time
from collections import Counter

# ---------------------------------------------------------------- stats


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def du(path: str) -> int:
    """Bytes in the files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------- /proc

_HZ = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int):
    """(ppid, comm, cpu_ticks incl. reaped children, state) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
    return int(rest[1]), comm, ticks, rest[0]


class ProcTree:
    """The JVM process and all of its descendants."""

    def __init__(self, root: int) -> None:
        self.root = root

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _read_stat(int(d))
                if st is not None:
                    children.setdefault(st[0], []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu(self) -> tuple[float, float]:
        """(CPU seconds of the whole tree, of its Python processes)."""
        total = python = 0
        for pid in self.pids():
            st = _read_stat(pid)
            if st is None:
                continue
            total += st[2]
            if pid != self.root and st[1].startswith("python"):
                python += st[2]
        return total / _HZ, python / _HZ

    def reset_peak(self) -> None:
        """Reset every process's peak-RSS mark (``VmHWM``) to its current RSS."""
        for pid in self.pids():
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")

    def peak_rss_mb(self) -> float:
        """Sum of the per-process peak RSS since the last ``reset_peak``."""
        kb = 0
        for pid in self.pids():
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
        return kb / 1024.0


def wait_gone(pids, timeout: float) -> None:
    """Wait until each pid has exited (a zombie counts); SIGKILL stragglers."""
    deadline = time.monotonic() + timeout
    while live := [p for p in pids if (st := _read_stat(p)) is not None and st[3] != "Z"]:
        if time.monotonic() > deadline:
            for p in live:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


# ---------------------------------------------------------------- session


class Session:
    """A SparkSession on its own JVM, built by ``pipz_spark.get_session``."""

    def __init__(self, master: str, conf: dict[str, str]) -> None:
        self.master = master
        self.conf = conf
        self.spark = None
        self.tree: ProcTree | None = None

    def start(self) -> float:
        """Launch the JVM and session; returns the seconds it took."""
        from pipz_spark import get_session

        t0 = time.perf_counter()
        self.spark = get_session(app_name="perfbench", master=self.master,
                                 extra_conf=self.conf)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tree = ProcTree(self.spark.sparkContext._gateway.proc.pid)
        pools = self.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getMemoryPoolMXBeans()
        self.old_gen = [p for p in (pools.get(i) for i in range(pools.size()))
                        if p.getName().endswith(("Old Gen", "Tenured Gen"))]
        return elapsed

    def reset_peaks(self) -> None:
        """Start the peak readings of a run: per-process RSS and the heap's
        old generation. A full collection first leaves only live data in
        the old generation, so its peak does not carry what earlier runs
        promoted and the collector has not yet reclaimed."""
        self.spark.sparkContext._jvm.java.lang.System.gc()
        self.tree.reset_peak()
        for pool in self.old_gen:
            pool.resetPeakUsage()

    def old_gen_peak_mb(self) -> float:
        """Peak occupancy of the heap's old generation since ``reset_peaks``:
        the data the program keeps live across collections. The young
        generation is left out; its peak is whatever size the collector
        gave it, which follows the host's timing more than the program."""
        return sum(p.getPeakUsage().getUsed() for p in self.old_gen) / float(1 << 20)

    def stop(self) -> None:
        """Stop the session, then wait for the JVM, which exits when its
        stdin closes, and for the Python workers it started."""
        pids = self.tree.pids()
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=60)
        wait_gone(pids, timeout=15.0)


# ---------------------------------------------------------------- spark


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
                "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas")


def _size_bytes(text: str) -> float:
    num, _, unit = text.strip().partition(" ")
    return float(num.replace(",", "")) * _SIZE.get(unit.split(" ")[0], 1)


def plan_metrics_from_dot(dot: str) -> dict[str, float]:
    """Node counts and byte totals of one executed plan, from the DOT
    rendering Spark's SQL status store gives of its plan graph."""
    out = Counter()
    for label in _NODE.findall(dot):
        parts = label.split("<br>")
        name = re.sub(r"</?b>", "", next(p for p in parts if "<b>" in p))
        out["nodes"] += 1
        out["exchanges"] += name == "Exchange"
        out["broadcasts"] += name == "BroadcastExchange"
        out["inmemory_scans"] += name == "InMemoryTableScan"
        out["python_evals"] += name in PYTHON_NODES
        for i, part in enumerate(parts):
            if part.startswith("shuffle bytes written"):
                key = "shuffle_write_bytes"
            elif part.startswith("spill size"):
                key = "spill_bytes"
            else:
                continue
            if " total (min, med, max" in part:  # per-task breakdown on the next line
                value = parts[i + 1].split(" (")[0]
            else:
                value = part.split(": ", 1)[1]
            out[key] += _size_bytes(value)
    return dict(out)


class SparkCounters:
    """Scheduler, GC and executed-plan readings of one session."""

    PLAN_KEYS = ("nodes", "exchanges", "broadcasts", "inmemory_scans",
                 "python_evals", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = spark._jsparkSession.sharedState().statusStore()

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    def _last_execution(self) -> int:
        n = self.store.executionsCount()
        if n == 0:
            return -1
        return self.store.executionsList(n - 1, 1).apply(0).executionId()

    def mark(self) -> dict:
        dag = self.sc._jsc.sc().dagScheduler()
        return {"job": dag.nextJobId(), "stage": dag.nextStageId(),
                "gc_ms": self.gc_ms(), "execution": self._last_execution()}

    def since(self, mark: dict) -> dict[str, float]:
        now = self.mark()
        tracker = self.sc.statusTracker()
        tasks = 0
        for sid in range(mark["stage"], now["stage"]):
            info = tracker.getStageInfo(sid)
            tasks += info.numTasks if info is not None else 0
        out = {"spark.jobs": now["job"] - mark["job"],
               "spark.stages": now["stage"] - mark["stage"],
               "spark.tasks": tasks,
               "spark.gc_ms": now["gc_ms"] - mark["gc_ms"]}
        plan = Counter()
        n = self.store.executionsCount()
        i = n - 1
        while i >= 0:
            ex = self.store.executionsList(i, 1).apply(0)
            eid = ex.executionId()
            if eid <= mark["execution"]:
                break
            dot = self.store.planGraph(eid).makeDotFile(self.store.executionMetrics(eid))
            plan.update(plan_metrics_from_dot(dot))
            i -= 1
        for key in self.PLAN_KEYS:
            out[f"plan.{key}"] = float(plan.get(key, 0))
        return out


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans and signal counts; inert when disabled."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.signals: Counter = Counter()
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span timed elsewhere (for example on a Spark callback thread)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": None, **attrs})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def subscribe(self, bus) -> None:
        """Count every signal through ``on_any`` only: a listener that
        names a signal would opt the program into extra count() actions."""
        if self.enabled:
            bus.on_any(self._on_signal)

    def _on_signal(self, signal_name: str, fields: dict) -> None:
        self.signals[signal_name] += 1

    def record_of(self) -> dict:
        """Spans and signal counts, as written to the trace file."""
        return {"spans": self.spans, "signals": dict(self.signals)}
