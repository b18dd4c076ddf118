"""Launch, timing, memory and tracing helpers shared by the workloads.

Nothing here is imported by the engine; the benchmark observes the engine
from outside, through its public functions and Spark's status store.
"""

from __future__ import annotations

import importlib
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "backend_fastapi_spark"

# JVM logging flags the session factory sets; repeated here because the
# benchmark appends a java.io.tmpdir to the same option.
_JVM_LOG_OPTS = "-Xlog:disable -Xlog:all=warning:stderr"


def host_driver_memory() -> str:
    """Driver heap that fits the host: a quarter of RAM, 1-2 GiB. A larger
    heap let peak RSS grow with CPU contention from other guests (2.3 to
    3.6 GB across runs at 4 GiB)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{max(1, min(2, total_kb // (4 * 1024 * 1024)))}g"


def start_spark(work_dir: str, cpus: int):
    """Start the engine's own session factory on local[cpus].

    The worker processes need the repo root on PYTHONPATH (UDFs pickle by
    module path), and every temporary file Spark writes stays under
    ``work_dir``. Returns the SparkSession."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    heap = host_driver_memory()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TMPDIR"] = tmp
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    from backend_fastapi_spark.core.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # no hsperfdata file under /tmp: every write stays in work_dir.
            # The heap is fixed and touched at start: a heap that grows on
            # demand made peak RSS follow CPU contention (G1 grows it when
            # collections take longer), 2.2-2.8 GB across runs of the same code.
            "spark.driver.extraJavaOptions": (
                f"{_JVM_LOG_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and the Python workers it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = [p for p in _descendants(proc.pid) if p != proc.pid] if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this process, the driver JVM and
    the Python workers it forked, in MB."""
    pids = {os.getpid()}
    jp = jvm_pid(spark)
    if jp is not None:
        pids.update(_descendants(jp))
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot: the time another
    guest ran on this machine's CPUs, against all CPU time."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return (t[7] if len(t) > 7 else 0), sum(t)


class Tracer:
    """Per-layer spans recorded from the benchmark's side of each call.

    Disabled (the end-to-end run), every method is a no-op and no job
    group is ever set. Enabled (the traced run), each ``op`` runs under
    its own Spark job group and afterwards reads the group's jobs and
    stages from the status store; ``wrap`` times eager work inside public
    functions of lower layers. The wall time the tracer spends on its own
    bookkeeping is summed in ``overhead_s``.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0
        self._seq = 0
        self._restore: list[tuple[object, str, object]] = []

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(float(value))

    @contextmanager
    def op(self, layer: str):
        """Run the body under a fresh job group; on exit record
        ``<layer>.{jobs,stages,tasks,task_s,shuffle_mb,spill_mb}``."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, layer)
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            self.sc.setJobGroup(None, None)
            for key, value in self._group_stats(group).items():
                self.samples[f"{layer}.{key}"].append(value)
            self.overhead_s += time.perf_counter() - t

    def _group_stats(self, group: str) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(0.05)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        run_ms = shuffle_b = spill_b = 0
        seen = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                shuffle_b += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                spill_b += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        mb = 1024.0 * 1024.0
        return {
            "jobs": float(len(jobs)),
            "stages": float(stages),
            "tasks": float(tasks),
            "task_s": run_ms / 1000.0,
            "shuffle_mb": shuffle_b / mb,
            "spill_mb": spill_b / mb,
        }

    def wrap(self, module: str, attr: str, metric: str) -> None:
        """Time every call of ``module.attr`` as ``<metric>.build_s``:
        the eager part of a lower layer, before it returns its plan.
        Rebinds the name in every engine module that imported it."""
        if not self.enabled:
            return
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        samples = self.samples[f"{metric}.build_s"]

        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                samples.append(time.perf_counter() - t)

        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "") or ""
            if name.startswith(PACKAGE) and getattr(m, attr, None) is orig:
                self._restore.append((m, attr, orig))
                setattr(m, attr, timed)

    def unwrap(self) -> None:
        for m, attr, orig in reversed(self._restore):
            setattr(m, attr, orig)
        self._restore.clear()

    def summary(self, names: list[str], measured_s: float) -> dict[str, float]:
        """Median of every recorded sample per name (0 for a layer this
        workload never reached), plus ``trace.overhead_frac``."""
        out = {n: median(self.samples.get(n, [])) for n in names}
        out["trace.overhead_frac"] = self.overhead_s / max(measured_s - self.overhead_s, 1e-9)
        return out
