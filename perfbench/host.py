"""Host facts, process environment and peak-RSS sampling, all from /proc.

``configure_env`` must run before pyspark is imported: the Spark driver
JVM and its Python workers inherit the environment it sets.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gib() -> int:
    """A quarter of physical memory, 1..8 GiB: the driver JVM shares the
    host with its Python workers and the page cache the parquet reads
    rely on."""
    return max(1, min(8, mem_total_kib() // (4 * 1024 * 1024)))


def configure_env(root: str, work: str) -> None:
    """Worker import path, core count, heap size, and every working
    directory (Spark local dir, temp files, KG artifacts) inside ``work``."""
    for d in ("spark-local", "tmp", "artifacts"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gib()}g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["DE_SPARK_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def cpu_ticks() -> dict[str, int]:
    """Aggregate CPU counters from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, vals))


def host_facts() -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": nproc(),
        "mem_total_kib": mem_total_kib(),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg": load,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants: the Spark driver
    JVM and the Python workers it forks.  The benchmark's own
    interpreter (result checks, DuckDB oracles) is left out."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> int:
        kids = _children_map()
        total, stack = 0, list(kids.get(os.getpid(), []))
        while stack:
            pid = stack.pop()
            total += _rss_bytes(pid)
            stack.extend(kids.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._sample())
        return self.peak / 1e6


def steal_s(before: dict[str, int], after: dict[str, int]) -> float:
    return (after["steal"] - before["steal"]) / CLK_TCK

