"""Host facts, session sizing and process-tree sampling.

The session is sized from the host, never from fixed defaults: cores
from the CPU affinity mask (what ``nproc`` prints), driver heap from
MemTotal with headroom left for the Python workers, shuffle partitions
from cores. Every scratch directory Spark or the JVM would otherwise put
under ``/tmp`` is pointed into the benchmark's work directory.
"""

from __future__ import annotations

import os
import sys
import threading
from typing import Dict, List, Optional


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> List[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def session_settings(cores: int, mem_mb: int) -> Dict[str, str]:
    """Spark resource settings derived from the host.

    The driver JVM hosts every task in local mode, so it gets the heap;
    an eighth of MemTotal (1-4 GB) leaves the rest for one Python worker
    per core plus the page cache.
    """
    heap_mb = max(1024, min(4096, mem_mb // 8))
    return {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.default.parallelism": str(cores),
    }


def build_session(work: str, settings: Dict[str, str], extra: Optional[Dict[str, str]] = None):
    """Start a fresh SparkSession (and JVM) with every scratch path in ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        .config("spark.pyspark.python", sys.executable)
    )
    for k, v in {**settings, **(extra or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_session(spark) -> None:
    """Stop the session and its JVM, so the next build starts cold."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        # the gateway JVM exits when its stdin reaches EOF
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


_CLK = os.sysconf("SC_CLK_TCK")


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
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


def descendants(root: int) -> List[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, each page shared by N
    processes counted 1/N, so forked workers sharing the daemon's pages
    are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:  # the process ended between listing and reading
        pass
    return 0.0


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of every descendant of ``root``,
    including their reaped children."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11..14] are utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


class RssSampler:
    """Samples the resident memory (summed PSS) of the process tree under
    ``root`` (the Spark JVM and its Python workers) on a background thread."""

    PERIOD_S = 0.1

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            mb = sum(_pss_mb(p) for p in descendants(self.root))
            self.peak_mb = max(self.peak_mb, mb)
            self._stop.wait(self.PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def versions() -> Dict[str, str]:
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__}

