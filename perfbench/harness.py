"""Process set-up, /proc and JVM readings, and spans for the benchmark.

Everything the benchmark writes goes under a work directory inside the
checkout: generated inputs, Spark local dirs, the JVM's temp dir and
the checkpoint stores. Spans and the last result go to an output
directory beside it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

HZ = os.sysconf("SC_CLK_TCK")


def process_start_wall() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / HZ)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap() -> str:
    """Driver heap that fits the host: 3 GB, or a quarter of RAM on a
    host with less than 12 GB. Read from MemTotal, which does not move
    between runs the way MemAvailable does."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    mb = 3072 if total_kb >= 12 * 1024 * 1024 else max(768, total_kb // 4096)
    return f"{mb}m"


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / HZ


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants, including
    children they have already reaped (the JVM and its Python workers)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(kids.get(pid, []))
    return total


def wait_session_gone(sid: int, timeout: float = 60.0) -> None:
    """Wait until no process of session ``sid`` is left (a child started
    with start_new_session=True, and whatever it started)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for name in os.listdir("/proc"):
            try:
                with open(f"/proc/{name}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if int(rest[3]) == sid and rest[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.2)
    raise TimeoutError(f"processes of session {sid} still running after {timeout} s")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once.
    A disabled tracer still times calls (the workload needs the wall)
    but records nothing."""

    enabled: bool
    trace_id: str = ""
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)

    def span(self, name: str):
        return _Span(self, name)

    def wall(self, name: str) -> float:
        """Duration of the first span called ``name`` (0 if none)."""
        s = next((s for s in self.spans if s["name"] == name), None)
        return s["end"] - s["start"] if s else 0.0


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.start = time.perf_counter()
        if self.t.enabled:
            self.t._stack.append(len(self.t.spans))
            self.t.spans.append({"trace": self.t.trace_id, "name": self.name, "start": self.start,
                                 "end": None, "parent": self.t._stack[-2] if len(self.t._stack) > 1 else None})
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.wall = self.end - self.start
        if self.t.enabled:
            self.t.spans[self.t._stack.pop()]["end"] = self.end
        return False


@dataclass
class Env:
    """Directories and Spark settings of one benchmark process."""

    root: str  # checkout root
    work: str  # scratch for this process, removed at exit
    out: str  # spans and results, kept
    cores: int
    heap: str

    @staticmethod
    def create(root: str, tag: str) -> "Env":
        work = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
        out = os.path.join(root, ".perfbench_out")
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.makedirs(out, exist_ok=True)
        return Env(root=root, work=work, out=out, cores=host_cores(), heap=host_heap())

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def spark_env(self) -> dict[str, str]:
        """Environment for the JVM, its Python workers and a CLI child:
        host-fit cores and heap instead of the program's defaults, every
        scratch dir inside the work dir, and the checkout on the
        workers' PYTHONPATH (the exact draft-4 path imports the package
        inside each Python worker)."""
        import sys

        pp = os.environ.get("PYTHONPATH", "")
        return {
            "SPARK_GRAFT_CPUS": str(self.cores),
            "SPARK_DRIVER_MEM": self.heap,
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "SPARK_GRAFT_WAREHOUSE": self.path("warehouse"),
            "TMPDIR": self.path("tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": self.root + (os.pathsep + pp if pp else ""),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={self.path('tmp')}",
        }

    def start_spark(self):
        os.environ.update(self.spark_env())
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        from hjsonschema_spark import get_spark

        return get_spark(
            app_name="perfbench",
            cores=self.cores,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it.
    SparkSession.stop() leaves the JVM running; closing its stdin makes
    it exit, and the Python workers it forked exit with it."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Jvm:
    """Readings of the driver JVM: pid, CPU of its process tree, VmHWM,
    GC time, heap pool peaks, and the status store's stage metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def cpu_s(self) -> float:
        return tree_cpu_s(self.pid)

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.pid)

    def gc_s(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def heap_peak_mb(self) -> float:
        mf = self.jvm.java.lang.management.ManagementFactory
        heap = self.jvm.java.lang.management.MemoryType.HEAP
        return sum(
            p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)
        ) / (1024.0 * 1024.0)

    def full_gc(self) -> None:
        """Between iterations, outside any timed window: lets the
        ContextCleaner drop the finished iteration's shuffle files."""
        self.jvm.System.gc()

    def jobs_in_group(self, group: str) -> dict:
        """Jobs, tasks, shuffle-write bytes and spilled bytes of every
        job run under a job group."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                for sd in _stage_attempts(store, s):
                    out["tasks"] += sd.numTasks()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def _stage_attempts(store, stage_id: int):
    """StageData of every attempt of a stage (none if it was skipped)."""
    try:
        attempts = store.stageData(stage_id, False, None, False, None)
    except Exception:  # skipped stages are absent from the store
        return []
    return [attempts.apply(i) for i in range(attempts.size())]
