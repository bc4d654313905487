"""Host facts, session sizing and resource sampling for the benchmark.

The session is sized from the machine it runs on: ``local[nproc]``, a
JVM heap derived from /proc/meminfo, Spark's local directory inside
the benchmark's work directory and one BLAS/OpenMP thread per Python
worker. Everything read from /proc is Linux-only; on other systems the
readers return None and the metrics that need them read 0.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

BLAS_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")


def nproc() -> int:
    """CPUs this process may run on (cpuset-aware, ignores OMP_NUM_THREADS)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def meminfo_kib(key: str) -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def heap_mb() -> int:
    """A quarter of physical memory, between 1 GiB and 8 GiB: the local
    JVM shares the host with one Python worker per core."""
    total_kib = meminfo_kib("MemTotal") or 4 * 1024 * 1024
    return int(min(8192, max(1024, total_kib // 4 // 1024)))


def session_settings(work_dir: str) -> dict:
    """The sizing every result records next to its metrics."""
    cpus = nproc()
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    return {
        "master": f"local[{cpus}]",
        "cpus": cpus,
        "heap": f"{heap_mb()}m",
        "local_dir": local_dir,
        "tmp_dir": tmp_dir,
        "blas_threads": 1,
    }


def start_session(settings: dict):
    """Start the engine's session with the benchmark's host sizing."""
    from go_muse_spark.session import get_spark

    for var in BLAS_VARS:
        os.environ[var] = "1"
    # every JVM of the run, the launcher's too, would otherwise keep a
    # performance-counter file in the system's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = settings["local_dir"]
    os.makedirs(settings["local_dir"], exist_ok=True)
    tmp = settings["tmp_dir"]
    extra = {
        "spark.local.dir": settings["local_dir"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    extra.update({f"spark.executorEnv.{v}": "1" for v in BLAS_VARS})
    return get_spark(
        cpus=settings["cpus"],
        app="musebench",
        driver_mem=settings["heap"],
        extra=extra,
    )


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until the JVM and every Python worker it
    started have exited (the JVM exits when its stdin closes, its
    workers when the JVM goes)."""
    pids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def host_facts() -> dict:
    model = None
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    total = meminfo_kib("MemTotal")
    return {
        "machine": platform.machine(),
        "kernel": platform.release(),
        "cpu_model": model,
        "nproc": nproc(),
        "mem_total_mb": total // 1024 if total else None,
    }


# ------------------------------------------------------------ host load


def cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def cpu_pressure_us() -> int | None:
    """Cumulative µs some task waited for a CPU (/proc/pressure/cpu)."""
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except (OSError, ValueError, IndexError):
        return None
    return None


class HostLoad:
    """Steal share and CPU-pressure share over an interval, so a
    co-tenant burst shows in the record that it disturbed."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.cpu0 = cpu_times()
        self.psi0 = cpu_pressure_us()

    def read(self) -> dict:
        wall = time.monotonic() - self.t0
        cpu1, psi1 = cpu_times(), cpu_pressure_us()
        steal = 0.0
        if self.cpu0 and cpu1 and cpu1[1] > self.cpu0[1]:
            steal = (cpu1[0] - self.cpu0[0]) / (cpu1[1] - self.cpu0[1])
        pressure = 0.0
        if self.psi0 is not None and psi1 is not None and wall > 0:
            pressure = (psi1 - self.psi0) / 1e6 / wall
        return {"steal_ratio": steal, "cpu_pressure_some": pressure}


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: this process,
    the JVM it launched and the JVM's Python workers."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread; ``peak``
    is the largest sample. Use as a context manager."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            try:
                self.peak = max(self.peak, tree_rss_bytes(pid))
            except OSError:
                pass
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
