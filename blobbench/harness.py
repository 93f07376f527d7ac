"""Measurement plumbing shared by every workload.

Nothing here imports the engine: it pins the process environment before
the JVM starts, times blocks of operations, turns samples into the
end-to-end statistics, records spans for the traced run, and reads the
outside-in counters (Spark's status store, JVM MXBeans over py4j,
``/proc`` and on-disk byte counts).
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager

#: driver heap for every run: far below a 15 GB host, large enough that
#: no workload spills its working set
DRIVER_MEM = "3g"

#: status-store retention, raised so one run's stages all stay readable
#: (the traced run sums them once at the end); identical in both modes
RETAINED = "20000"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, root: str) -> dict:
    """Point every file the JVM, Derby and Python workers write at
    ``work`` and fix the core count and heap. ``root`` (the checkout)
    goes on the Python workers' path. Must run before pyspark starts
    its JVM."""
    import sys

    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "warehouse", "derby")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    java_opts = (
        f"-Dderby.system.home={dirs['derby']} -Djava.io.tmpdir={dirs['tmp']}"
    )
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
                f"--conf spark.ui.retainedJobs={RETAINED}",
                f"--conf spark.ui.retainedStages={RETAINED}",
                f"--conf spark.sql.ui.retainedExecutions={RETAINED}",
                f'--driver-java-options "{java_opts}"',
                "pyspark-shell",
            ]
        ),
    }
    for k in ("SPARK_GRAFT_ON_CLUSTER", "OMP_NUM_THREADS"):
        os.environ.pop(k, None)
    os.environ.update(env)
    os.chdir(work)  # derby.log / metastore fallbacks land here, not in the checkout
    return env


def process_age_s() -> float:
    """Seconds since this process started (the setup clock's origin)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- statistics ------------------------------------------------------------


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile of ``samples`` that still has at least ten
    samples beyond it: (value, percentile). With fewer than 21 samples
    no percentile above the median has that support, and the median
    itself is returned."""
    s = sorted(samples)
    if len(s) < 21:
        return statistics.median(s), 50.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def trend(series: list[float]) -> float:
    """Median of the second half over the median of the first half,
    minus one: negative while a run is still on its warm-up curve."""
    if len(series) < 2:
        return 0.0
    h = len(series) // 2
    return statistics.median(series[-h:]) / statistics.median(series[:h]) - 1.0


def summarize(samples: dict[str, list[float]], block_walls: list[float]) -> dict:
    """End-to-end statistics from the timed region: per-type medians,
    their geometric mean, the pooled tail and whole-block throughput."""
    per_type = {k: statistics.median(v) for k, v in samples.items()}
    pooled = [x for v in samples.values() for x in v]
    tail_v, tail_pct = tail(pooled)
    n_ops = len(pooled)
    wall = sum(block_walls)
    return {
        "latency_ms": 1000.0 * geomean(list(per_type.values())),
        "latency_tail_ms": 1000.0 * tail_v,
        "tail_percentile": tail_pct,
        "ops_per_s": n_ops / wall,
        "timed_wall_s": wall,
        "n_ops": n_ops,
        "per_type_median_ms": {k: 1000.0 * v for k, v in per_type.items()},
        "block_s": block_walls,
        "trend": trend(block_walls),
    }


# -- warm-up ---------------------------------------------------------------


def warm_up(block, *, min_blocks: int, max_blocks: int, tol: float = 0.03) -> list[float]:
    """Run ``block()`` until its time stops falling: stop once the last
    block is no faster than ``1 - tol`` times the best earlier block
    (after ``min_blocks``), or at ``max_blocks``. Returns the times."""
    times: list[float] = []
    while len(times) < max_blocks:
        t0 = time.perf_counter()
        block()
        times.append(time.perf_counter() - t0)
        if len(times) >= min_blocks and times[-1] >= (1.0 - tol) * min(times[:-1]):
            break
    return times


# -- tracing ---------------------------------------------------------------


class Tracer:
    """Spans recorded around calls into the engine's modules. Disabled,
    ``span`` costs one attribute test; enabled, spans stay in memory
    until the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), parent))
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.spans if n == name]

    def median_ms(self, name: str) -> float:
        d = self.durations(name)
        return 1000.0 * statistics.median(d) if d else 0.0

    def total_s(self, name: str) -> float:
        return sum(self.durations(name))


# -- outside-in counters ---------------------------------------------------


def tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process tree (driver Python, JVM, Python
    workers), including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def tree_peak_rss_mb() -> float:
    total_kb = 0
    for p in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_cpu_s() -> float:
    """Busy CPU seconds of the whole host since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    return (sum(v[:8]) - idle) / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def file_versions(path: str) -> set[tuple[int, int, int]]:
    """(inode, mtime_ns, size) of every file under ``path``. A file a
    later write produced is absent from an earlier snapshot; a file only
    renamed keeps its inode and mtime and stays in it."""
    out = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            out.add((st.st_ino, st.st_mtime_ns, st.st_size))
    return out


def bytes_written_since(path: str, before: set[tuple[int, int, int]]) -> int:
    """Bytes of the files under ``path`` that are not in ``before``."""
    return sum(size for _ino, _mtime, size in file_versions(path) - before)


class Counters:
    """Engine-wide counters read from outside the package. ``start()``
    marks the beginning of a region, ``stop()`` returns its deltas."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def _gc_ms(self) -> int:
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(g.getCollectionTime() for g in mx.getGarbageCollectorMXBeans())

    def _jobs(self):
        return _each(self._store.jobsList(None))

    def _stages(self):
        gw = self._sc._gateway
        return _each(
            self._store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        )

    def _executions(self):
        return _each(self.spark._jsparkSession.sharedState().statusStore().executionsList())

    def _max_ids(self) -> tuple[int, int, int]:
        return (
            max((j.jobId() for j in self._jobs()), default=-1),
            max((s.stageId() for s in self._stages()), default=-1),
            max((e.executionId() for e in self._executions()), default=-1),
        )

    def start(self) -> None:
        self._ids = self._max_ids()
        self._gc0 = self._gc_ms()
        self._cpu0 = tree_cpu_s()
        self._host0 = host_cpu_s()
        self._t0 = time.perf_counter()

    def stop(self) -> dict:
        wall = time.perf_counter() - self._t0
        cpu = tree_cpu_s() - self._cpu0
        host = host_cpu_s() - self._host0
        gc = self._gc_ms() - self._gc0
        job0, stage0, exec0 = self._ids
        n_jobs = sum(1 for j in self._jobs() if j.jobId() > job0)
        tasks = in_rows = out_rows = shuffle = 0
        for s in self._stages():
            if s.stageId() <= stage0 or s.status().toString() == "SKIPPED":
                continue
            tasks += s.numCompleteTasks()
            in_rows += s.inputRecords()
            out_rows += s.outputRecords()
            shuffle += s.shuffleWriteBytes()
        jdbc_scans = sum(
            _jdbc_scans(e.physicalPlanDescription())
            for e in self._executions() if e.executionId() > exec0
        )
        n = nproc()
        return {
            "wall_s": wall,
            "jobs": n_jobs,
            "tasks": tasks,
            "input_rows": in_rows,
            "output_rows": out_rows,
            "shuffle_bytes": shuffle,
            "jdbc_scans": jdbc_scans,
            "gc_ms": gc,
            "cpu_s": cpu,
            "other_cpu_share": max(0.0, host - cpu) / (n * wall),
        }


def _each(seq):
    """Iterate a Java list or Scala sequence held over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _jdbc_scans(plan: str) -> int:
    """JDBC relation scans in one SQL execution's plan tree: the node
    list before the per-node detail section, and of an adaptive plan
    only its final plan."""
    tree = plan.split("\n\n", 1)[0].split("== Initial Plan ==", 1)[0]
    return tree.count("Scan JDBCRelation")
