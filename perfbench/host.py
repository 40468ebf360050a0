"""Host facts recorded with every result, and the session size derived
from them (the engine's defaults assume a 32-thread, 48 GB host)."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(key: str, path: str = "/proc/meminfo") -> int:
    with open(path) as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def driver_heap_mb(mem_total_kb: int) -> int:
    """A fifth of physical memory, between 1 and 4 GiB: the driver JVM
    is the whole local-mode cluster, and the host is shared."""
    return int(min(4096, max(1024, mem_total_kb // 1024 // 5)))


def session_kwargs(local_dir: str) -> dict:
    """``get_spark`` arguments sized for this host. Stage and job
    history is retained in full so the traced run can read every
    stage of the run; untraced runs use the same setting so the two
    differ only by tracing."""
    heap = driver_heap_mb(meminfo_kb("MemTotal"))
    return {
        "cores": nproc(),
        "extra": {
            "spark.driver.memory": f"{heap}m",
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    }


def source_digest(root: str) -> str:
    """sha256 over the engine's .py sources (path + bytes): identifies
    the code when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "osmnightwatch_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                h.update(os.path.relpath(full, root).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    """HEAD of the repository whose top level is ``root``, else None
    (an exported checkout inside some other repository is not it)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


def versions(spark=None) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    out = {"python": platform.python_version(), "pyspark": pyspark.__version__,
           "numpy": numpy.__version__, "pandas": pandas.__version__,
           "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}
    if spark is not None:
        out["java"] = spark._jvm.java.lang.System.getProperty("java.version")
    return out


def describe(root: str, spark=None) -> dict:
    return {
        "nproc": nproc(),
        "mem_total_kb": meminfo_kb("MemTotal"),
        "loadavg": loadavg(),
        "versions": versions(spark),
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
    }


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def jvm_hwm_mb(spark) -> float:
    """VmHWM of the driver JVM (the whole local-mode cluster) over the
    process's life, set-up and cold start included."""
    return meminfo_kb("VmHWM", f"/proc/{jvm_pid(spark)}/status") / 1024.0


class RssSampler:
    """Peak resident set of the driver JVM while the block runs,
    sampled from ``/proc/<pid>/status`` every ``interval`` seconds.

    The whole-run high-water mark is dominated by transients of the
    cold start (JIT compiler arenas, first-use heap growth) that vary
    from run to run; the measured operations' own peak is what the
    operations cost."""

    def __init__(self, spark, interval: float = 0.05):
        self.path = f"/proc/{jvm_pid(spark)}/status"
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, meminfo_kb("VmRSS", self.path) / 1024.0)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False
