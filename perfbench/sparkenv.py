"""Pinned run environment: process env, Spark conf, JVM lifetime, and
peak-RSS sampling of the JVM + Python-worker process tree.

Everything the benchmark writes (Spark local dirs, JVM temp files, event
logs, checkpoints, stores) lands under the work directory inside the
checkout; the conf below is the only way the benchmark influences
Spark — no program code is patched.
"""

from __future__ import annotations

import ctypes
import gc
import os
import platform
import signal
import subprocess
import threading
import time

DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process_env(root: str, work: str) -> None:
    """Must run before the JVM starts: the JVM and the Python workers it
    forks inherit this environment.  Workers import the program from
    PYTHONPATH (editing sys.path in the driver alone leaves them with
    ModuleNotFoundError), and the heap is pinned because the program's
    session default (16g) does not fit a small box."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_MASTER", None)


def master() -> str:
    return f"local[{nproc()}]"


def spark_conf(work: str, event_log_dir: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def build(app: str, work: str, event_log_dir: str | None = None):
    from file_dedup_rust_spark.session import build_session

    return build_session(app, master=master(), extra_conf=spark_conf(work, event_log_dir))


def shutdown(spark) -> None:
    """Stop the SparkContext, then the JVM itself, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have processes orphaned below this one (a Python worker whose
    daemon exited first, say) re-parented here rather than to init, so
    stop_descendants() still finds and reaps them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> list[int]:
    """Wait until no process started below this one is left: each gets
    `grace` s to exit on its own, then SIGTERM, then SIGKILL.  Returns
    the pids that had to be signalled."""
    me = os.getpid()
    signalled: list[int] = []
    for sig, wait_s in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 30.0)):
        if sig is not None:
            for pid in descendants(me):
                try:
                    os.kill(pid, sig)
                    signalled.append(pid)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + wait_s
        while True:
            _reap()
            if not descendants(me):
                return sorted(set(signalled))
            if time.monotonic() > end:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes still running after SIGKILL: {descendants(me)}")


def settle(spark) -> None:
    """Collect garbage in the JVM and in this process before a timed
    operation, so a collection owed by earlier work does not land in it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding `path` (tmpfs vs disk)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/self/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def env_record(spark, seed: int, work: str) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "master": spark.sparkContext.master,
        "nproc": nproc(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "console_progress": spark.sparkContext.getConf().get("spark.ui.showConsoleProgress"),
        "work_dir_fs": fs_type(work),
        "seed": seed,
        "pyspark": pyspark.__version__,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def cpu_times() -> list[int]:
    """Aggregate CPU time counters of the machine (/proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two cpu_times() readings that the
    hypervisor gave to other guests (field 8 of /proc/stat's cpu line):
    a run measured under host contention reads slow for that reason."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


# ------------------------------------------------------------ peak RSS


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
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak RSS summed over every descendant of this process — the JVM
    and the Python workers it forks, not this benchmark process itself,
    which holds inputs and oracle.  RSS is read every `interval` s; the
    process tree (a full /proc scan) is refreshed every `rescan` s."""

    def __init__(self, interval: float = 0.1, rescan: float = 1.0) -> None:
        self.interval = interval
        self.rescan = rescan
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        pids, scanned = [], 0.0
        while not self._stop.is_set():
            if time.perf_counter() - scanned >= self.rescan:
                pids, scanned = descendants(me), time.perf_counter()
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
