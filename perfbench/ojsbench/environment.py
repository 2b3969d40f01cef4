"""Environment pinning, Spark session lifetime and process-memory readings.

Everything the benchmark writes lands under one work directory inside the
checkout (Spark local dirs, temp files, warehouse, derby log, the corpus
and every index), and that directory is removed when the run ends.
"""

from __future__ import annotations

import gc
import os
import shutil
import signal
import sys
import tempfile
import time

def n_cores() -> int:
    """CPUs this process may run on (`nproc`)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A driver heap far below physical RAM: a quarter of it, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(512, min(2048, total_mb // 4))
    return 1024


class Workspace:
    """The run's scratch directory and the process environment pointing at it."""

    def __init__(self, root: str, name: str):
        self.root = os.path.abspath(root)
        self.dir = os.path.join(self.root, ".perfbench_work", name)
        self._cwd = os.getcwd()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def enter(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("spark-local", "tmp", "warehouse"):
            os.makedirs(self.path(sub))
        # Python workers import the engine from the checkout.
        py_path = [self.root] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
        ]
        env = {
            "PYTHONPATH": os.pathsep.join(py_path),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "SPARK_DRIVER_MEM": f"{driver_mem_mb()}m",
            "TMPDIR": self.path("tmp"),
        }
        self._saved_env = {k: os.environ.get(k) for k in env}
        os.environ.update(env)
        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(self.dir)

    def leave(self) -> None:
        os.chdir(self._cwd)
        for k, v in self._saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(ws: Workspace, cores: int):
    from opensearch_jvector_plugin_spark.session import get_spark

    tmp = ws.path("tmp")
    return get_spark(
        cores=cores,
        app_name="ojs-perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": ws.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}",
        },
    )


def collect_garbage(spark) -> None:
    """A full GC in the driver JVM and in this process at the end of
    set-up, so that set-up garbage is not collected inside a measurement."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of this process, the driver JVM and the
    Python workers (every live descendant), summed per program name."""
    out: dict[str, float] = {}
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0.0) + _vm_hwm_kb(pid) / 1024.0
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process it started is
    gone (Python workers included)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # The gateway JVM exits when its stdin reaches EOF.
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + timeout_s
        pending = [p for p in started if _alive(p)]
        while pending and time.monotonic() < deadline:
            time.sleep(0.1)
            pending = [p for p in pending if _alive(p)]
        for p in pending:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        for p in pending:
            while _alive(p) and time.monotonic() < deadline + 5:
                time.sleep(0.05)
