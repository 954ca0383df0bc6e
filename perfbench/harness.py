"""Measurement plumbing: host sizing, the Spark session, process-tree RSS,
spans, and per-layer Spark stats read from job groups."""

from __future__ import annotations

import json
import math
import os
import subprocess
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# host sizing
# ---------------------------------------------------------------------------
def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of physical memory, within [1 GiB, 8 GiB]: local mode runs
    the executors inside the driver JVM, and the Python workers and the
    machine's other tenants need the rest."""
    return max(1024, min(8192, host_mem_mb() // 4))


def start_spark(work: str, cores: int, heap_mb: int):
    """Session sized from the host, with every scratch path inside ``work``:
    ``local[cores]``, the given driver heap, and one shuffle partition per
    core, so a streaming micro-batch's state store runs as one task wave
    (measured 0.8-1.0 s a batch against 1.0-1.4 s with two per core)."""
    from ner_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers inherit it
    return get_spark(
        master=f"local[{cores}]",
        app="perfbench",
        shuffle_partitions=cores,
        extra={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and, through it, the Python
    daemon and workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# peak RSS over the process tree (psutil is not installed)
# ---------------------------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_memory(root: int) -> list[tuple[int, str, float, float]]:
    """(pid, command, RSS MB, peak RSS MB) of ``root`` and its descendants,
    from VmRSS and VmHWM in /proc/<pid>/status."""
    kids = _children_map()
    out = []
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(
                    line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line
                )
        except OSError:
            continue
        if "VmRSS" not in status:  # a zombie
            continue
        out.append((
            pid, status["Name"], int(status["VmRSS"].split()[0]) / 1024,
            int(status["VmHWM"].split()[0]) / 1024,
        ))
    return out


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM,
    the PySpark daemon and its workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            rss = sum(m[2] for m in tree_memory(root))
            self.peak_mb = max(self.peak_mb, rss)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, run); written once at the
    end. Times are seconds since the tracer was made."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, run: str, parent: int | None = None):
        stack = self._stack()
        rec = {
            "name": name,
            "run": run,
            "parent": parent if parent is not None else self.current(),
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()

    def add(self, name: str, run: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        """Record a span timed elsewhere; ``start``/``end`` are
        ``time.time()`` seconds."""
        shift = time.time() - (time.perf_counter() - self._t0)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "name": name, "run": run, "parent": parent, "id": sid,
                "start": start - shift, "end": end - shift, **attrs,
            })
        return sid

    def total(self, name: str, run: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["run"] == run
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# per-layer Spark stats from job groups
# ---------------------------------------------------------------------------
class JobGroups:
    """Tags the Spark jobs of each layer call with a job group and sums the
    stage metrics of each group from the JVM status store (which works
    with ``spark.ui.enabled=false``)."""

    def __init__(self, spark, run: str):
        self.sc = spark.sparkContext
        self.run = run

    def group_id(self, layer: str) -> str:
        return f"{self.run}:{layer}"

    @contextmanager
    def group(self, layer: str):
        # job groups are thread-local: a side thread sets its own
        self.sc.setJobGroup(self.group_id(layer), layer)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()

    def stats(self, group_ids: list[str]) -> dict[str, dict]:
        """{group id: run_s, cpu_s, shuffle_write_mb, spill_mb, jobs,
        input_rows, rows_out} over every stage attempt of the group's jobs."""
        sc = self.sc
        bus = sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty(30_000)  # status store reflects finished jobs
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        by_stage: dict[int, list] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            by_stage.setdefault(s.stageId(), []).append(s)
        tracker = sc.statusTracker()
        out = {}
        for gid in group_ids:
            jobs = tracker.getJobIdsForGroup(gid)
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            acc = dict(run_ms=0, cpu_ns=0, shuffle_b=0, spill_b=0, inp=0, outp=0)
            for sid in stage_ids:
                for s in by_stage.get(sid, ()):
                    acc["run_ms"] += s.executorRunTime()
                    acc["cpu_ns"] += s.executorCpuTime()
                    acc["shuffle_b"] += s.shuffleWriteBytes()
                    acc["spill_b"] += s.diskBytesSpilled()
                    acc["inp"] += s.inputRecords()
                    acc["outp"] += s.outputRecords()
            out[gid] = {
                "run_s": acc["run_ms"] / 1e3,
                "cpu_s": acc["cpu_ns"] / 1e9,
                "shuffle_write_mb": acc["shuffle_b"] / 1e6,
                "spill_mb": acc["spill_b"] / 1e6,
                "jobs": len(jobs),
                "input_rows": acc["inp"],
                "rows_out": acc["outp"],
            }
        return out


# ---------------------------------------------------------------------------
# order statistics
# ---------------------------------------------------------------------------
def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, by the
    nearest-rank rule; None when the run holds fewer than 20 ops."""
    n = len(values)
    for q in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - q / 100) >= 10:
            v = sorted(values)[max(0, math.ceil(q / 100 * n) - 1)]
            return {"percentile": q, "value": v, "samples": n}
    return None
