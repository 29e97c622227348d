"""Spark session lifecycle and the numbers read from outside ``htmlgraft``:
the status store (task durations, failed tasks, shuffle writes), Python
worker peak RSS from ``/proc``, and the window record (``bench.py``'s spin
probe plus ``/proc/loadavg``)."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")


def configure_env() -> None:
    """Keep every file the run writes inside the checkout, and make the
    checkout's ``htmlgraft`` importable in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM spark-submit starts first: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def proc_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(conf: dict, cores: int):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    b = (b.config("spark.local.dir", os.path.join(WORK, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    reap_descendants()


def _children_map() -> dict:
    kids = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap_descendants(timeout: float = 30.0) -> None:
    """Terminate and wait for any process this one started that is still
    alive (Spark's launcher or Python daemon in a failure path)."""
    import signal

    left = descendants()
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.monotonic() + timeout
    while left and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        left = [p for p in left if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]
        time.sleep(0.05)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# ---------------------------------------------------------------------------
# Python worker memory

def _python_workers() -> list[int]:
    out = []
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    out.append(pid)
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerPeakRss:
    """Largest ``VmHWM`` of any Spark Python worker between ``start`` and
    ``stop``.  ``start`` resets the workers' high-water marks
    (``/proc/<pid>/clear_refs`` = 5); a thread samples every 0.5 s so a
    worker that exits mid-pass is still counted."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def _sample(self) -> None:
        for pid in _python_workers():
            self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self._sample()

    def start(self) -> None:
        for pid in _python_workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self.peak_kb = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# Spark's status store

def group_stats(spark, group: str) -> dict:
    """Task and shuffle numbers for every stage of the jobs in ``group``.
    The UDF stage is the stage with the most executor run time."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stages = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.extend(info.stageIds)
    failed = shuffle = 0
    best, best_run = None, -1
    for sid in sorted(set(stages)):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # a stage skipped by the scheduler has no attempt
            continue
        failed += st.numFailedTasks()
        shuffle += st.shuffleWriteBytes()
        if st.executorRunTime() > best_run:
            best, best_run = st, st.executorRunTime()
    durs = []
    if best is not None:
        tasks = store.taskList(best.stageId(), best.attemptId(), 1 << 20)
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(int(d.get()))
    median = statistics.median(durs) if durs else 0
    return {
        "udf_stage_tasks": len(durs),
        "task_skew": (max(durs) / median) if median else 0.0,
        "udf_stage_run_s": max(best_run, 0) / 1000,
        "tasks_failed": failed,
        "shuffle_write_mb": shuffle / 2**20,
    }


# ---------------------------------------------------------------------------
# the window record

def window_probe() -> dict:
    """``bench.py``'s fixed single-thread spin (about 0.6-0.8 s on a quiet
    32-core box; it reads slower on slower cores) and ``/proc/loadavg``."""
    from bench import _noise_probe

    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"spin_s": _noise_probe(), "loadavg": [float(x) for x in load]}
