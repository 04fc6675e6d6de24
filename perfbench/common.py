"""Helpers shared by the benchmark's processes: process environment,
the box record, Spark job accounting, memory gauges and spans."""

from __future__ import annotations

import gc
import json
import os
import resource
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
HEAP = "2g"


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the work directory, emptied first, and bound the driver heap."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))


def spark_conf() -> dict:
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then no
        # longer follows the collector's heap-growth decisions, which
        # differ from run to run; heap growth shows in live_heap_mb
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
    }


def pctl(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return pctl(values, 50)


def sentinel_s(spark) -> float:
    """CPU sentinel sized to the box: a pure-JVM scan + aggregate with
    one partition of 20M rows per core, best of three after one warm-up
    (raw seconds; compare only across runs on the same box)."""
    n = os.cpu_count() or 1
    best = float("inf")
    for i in range(4):
        t0 = time.perf_counter()
        spark.range(0, n * 20_000_000, 1, n).selectExpr(
            "sum(id * (id % 7)) AS s"
        ).collect()
        if i:
            best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> list[int]:
    """The box's CPU times summed over cores, from /proc/stat (user,
    nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the box's CPU time between two ``cpu_times()`` that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def task_count(sc, jobs) -> int:
    """Tasks of the given Spark jobs, from the status tracker."""
    st = sc.statusTracker()
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            sinfo = st.getStageInfo(s)
            tasks += sinfo.numTasks if sinfo else 0
    return tasks


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group."""
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return len(jobs), task_count(sc, jobs)


def engine_gauges(spark) -> dict:
    """Heap used after a forced GC, the JVM's and this process's peak
    RSS, and the persisted RDDs still registered."""
    # Drop Python's proxies, collect, and give Spark's cleaner time to
    # release what the collected objects held (it runs asynchronously);
    # repeat until the heap stops shrinking.
    jvm = spark._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(5):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        before, used = used, heap.getHeapMemoryUsage().getUsed()
        if used > 0.98 * before:
            break
    pid = jvm.java.lang.ProcessHandle.current().pid()
    hwm_kb = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
    except OSError:
        pass
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {
        "live_heap_mb": used / 2**20,
        "peak_rss_mb": (py_kb + hwm_kb) / 1024.0,
        "persisted_rdds": len(spark.sparkContext._jsc.getPersistentRDDs()),
    }


class Spans:
    """In-memory span store; written as JSON lines once the run ends."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, rid: str, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        self.items.append({"name": name, "request_id": rid, "parent": parent,
                           "start": start, "end": end,
                           "ms": (end - start) * 1e3, **attrs})

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name (own time minus children)."""
        child: dict[tuple[str, str], float] = {}
        for s in self.items:
            if s["parent"]:
                key = (s["request_id"], s["parent"])
                child[key] = child.get(key, 0.0) + s["ms"]
        out: dict[str, float] = {}
        for s in self.items:
            own = s["ms"] - child.get((s["request_id"], s["name"]), 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")
