"""Shared plumbing for the perfbench workloads: an isolated per-run scratch
directory, a Spark session sized from the host, peak-RSS sampling, and the
traced-run span recorder with Spark stage attribution.

Everything a run writes lives under ``<checkout>/.perfbench_run/<uuid>``
(table, checkpoint, metrics, Spark local dirs, JVM and Python temp files)
and is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_BASE = os.path.join(ROOT, ".perfbench_run")


def driver_memory_mb() -> int:
    """A quarter of MemTotal, clamped to [1 GiB, 8 GiB]: the host is shared,
    and the workloads' working sets are far below either bound."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(8192, total_kb // 4096))


class RunDir:
    """One uuid scratch directory per run, removed on exit."""

    def __init__(self) -> None:
        self.path = os.path.join(RUN_BASE, uuid.uuid4().hex)
        os.makedirs(os.path.join(self.path, "tmp"))
        os.makedirs(os.path.join(self.path, "local"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUN_BASE)  # only when no other run is using it
        except OSError:
            pass


def start_session(run: RunDir, app: str):
    """local[nproc] session whose every scratch path stays inside ``run``."""
    tmp, local = run.sub("tmp"), run.sub("local")
    # python workers import the engine from the checkout; JVMs (the
    # spark-submit launcher included) keep temp and perf files in the run dir.
    # The parallel collector with a fixed young generation keeps the driver's
    # peak RSS from following G1's adaptive heap sizing, which moved it by up
    # to a third between runs of the same workload.
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -XX:+UseParallelGC -Xmn512m -Djava.io.tmpdir={tmp}"
    # driver_queries stages under <checkout>/_work instead of /dev/shm
    os.environ["BENCH_TMPFS"] = "0"
    import tempfile

    tempfile.tempdir = tmp
    from debezium_connector_cockroachdb_spark.session import build_session

    cpus = len(os.sched_getaffinity(0))
    return build_session(
        app_name=app,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


# ---------------------------------------------------------------- tracing


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "stage_lo", "stage_hi", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, stage_lo: int):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = time.time()
        self.end = 0.0
        self.stage_lo = stage_lo
        self.stage_hi = stage_lo
        self.attrs: dict = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """In-memory span recorder. One stack for the whole process: the engine
    applies one micro-batch at a time and the streaming callback thread runs
    while the main thread only waits, so the innermost open span is always
    the caller of the next one.

    Each span records the Spark stage-id window it covered; stage metrics are
    read once from the status store when the run ends (``attach_stages``)."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.overhead_s = 0.0  # time spent inside the tracer itself

    def _next_stage_id(self) -> int:
        v = self._dag.nextStageId()
        return int(v if isinstance(v, int) else v.get())

    def open(self, name: str) -> Span:
        t0 = time.time()
        lo = self._next_stage_id()
        with self._lock:
            parent = self._stack[-1].sid if self._stack else None
            sp = Span(len(self.spans), name, parent, lo)
            self.spans.append(sp)
            self._stack.append(sp)
        self.overhead_s += time.time() - t0
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        sp.stage_hi = self._next_stage_id()
        with self._lock:
            self._stack.remove(sp)
        self.overhead_s += time.time() - sp.end

    def current(self) -> str | None:
        """Name of the innermost open span."""
        with self._lock:
            return self._stack[-1].name if self._stack else None

    @contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, owner, attr: str, name: str, before=None, attrs=None):
        """Replace ``owner.attr`` with a span-recording wrapper. ``before``
        (optional) runs ahead of each call with the same arguments, outside
        the span; ``attrs`` (optional) maps the arguments to span attributes.
        Returns a function that restores the original."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(name) as sp:
                if attrs is not None:
                    sp.attrs.update(attrs(*args, **kwargs))
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)

    # ------------------------------------------------------ stage metrics

    def attach_stages(self) -> None:
        """Attach per-stage metrics to every span by its stage-id window."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
        it = stages.iterator()
        rows = {}
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            rows[sid] = {
                "attempt": int(s.attemptId()),
                "run_ms": float(s.executorRunTime()),
                "shuffle_read": int(s.shuffleReadBytes()),
                "shuffle_write": int(s.shuffleWriteBytes()),
                "spill": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                "tasks": int(s.numTasks()),
            }
        self.stage_rows = rows
        for sp in self.spans:
            ids = [i for i in range(sp.stage_lo, sp.stage_hi) if i in rows]
            sp.attrs["stages"] = ids

    def task_skew(self, stage_id: int) -> float | None:
        """max / median task run time of one stage."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        qs = sc._gateway.new_array(sc._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        attempt = self.stage_rows[stage_id]["attempt"]
        opt = store.taskSummary(stage_id, attempt, qs)
        if opt.isEmpty():
            return None
        run = opt.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else None

    def stage_sum(self, spans: list[Span], key: str) -> float:
        seen: set[int] = set()
        total = 0.0
        for sp in spans:
            for i in sp.attrs.get("stages", []):
                if i not in seen:
                    seen.add(i)
                    total += self.stage_rows[i][key]
        return total

    def check_parents(self) -> None:
        ids = {sp.sid for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None and sp.parent not in ids:
                raise RuntimeError(f"span {sp.name}#{sp.sid} has unresolved parent {sp.parent}")
            if sp.end < sp.start:
                raise RuntimeError(f"span {sp.name}#{sp.sid} never closed")

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"run": self.run_id, "id": sp.sid, "name": sp.name, "parent": sp.parent,
                     "start": sp.start, "end": sp.end, **sp.attrs}
                    for sp in self.spans
                ],
                f,
            )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and so its Python workers) to
    exit."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _proc_cpu_ticks(pid: int) -> tuple[int, int]:
    """(ppid, utime+stime+cutime+cstime) of one process, in clock ticks."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process, the driver JVM and every
    process under the JVM (the Python worker daemon and its workers).
    Excludes time the host stole from this machine's CPUs."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    ticks: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ticks[int(name)] = _proc_cpu_ticks(int(name))
            except (OSError, IndexError):
                pass
    keep, frontier = {jvm}, [jvm]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in ticks.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    keep.add(os.getpid())
    return sum(ticks[p][1] for p in keep if p in ticks) / os.sysconf("SC_CLK_TCK")
