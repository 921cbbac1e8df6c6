"""Machine sizing, the Spark session, process-tree memory sampling and
the box record that rides along with every result."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def available_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / (1 << 20)
    return 4.0


def heap_mib() -> int:
    """A quarter of the available memory, 512 MiB to 1 GiB: the inputs
    are small and the machine is shared. The heap is committed and
    touched whole at start-up (see ``session_conf``), so peak memory
    does not follow G1's timing-dependent heap growth (the JVM's peak
    moved from 767 to 899 MiB between two runs of the same pass)."""
    return int(min(1024, max(512, available_gib() * 1024 // 4)))


def session_conf(work: str, java_opts: str = "") -> dict[str, str]:
    """Spark settings sized from this machine; every scratch path lives
    under ``work`` so a run writes nothing outside its checkout.
    ``java_opts`` are extra JVM options."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = heap_mib()
    return {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{heap}m -XX:+AlwaysPreTouch {java_opts}".strip(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run joins stage metrics back to spans after each
        # pass; a pipeline pass runs >100 jobs, past the package's
        # 50-job retention. Both modes use the same setting.
        "spark.ui.retainedJobs": "2000",
        "spark.ui.retainedStages": "4000",
    }


def build_session(work: str, java_opts: str = ""):
    """``plans.build_session`` at ``local[cores]`` with two shuffle
    partitions per core."""
    from morph_xr2rml_spark.plans import session

    n = cores()
    spark = session.build_session(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf=session_conf(work, java_opts),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of this process, the JVM it launched and the
    Python workers below the JVM. Other descendants are skipped: a
    helper the JVM spawns shares the JVM's pages until it execs, and
    would count them twice."""
    total = _rss_kib(os.getpid())
    todo = [p for p in _children(os.getpid()) if _comm(p) == "java"]
    while todo:
        pid = todo.pop()
        total += _rss_kib(pid)
        todo.extend(p for p in _children(pid) if _comm(p).startswith("python"))
    return total / 1024.0


class PeakRss:
    """Samples the process tree's resident memory every ``interval``
    seconds while active; ``peak`` is the largest sample."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_mb())


def package_loc(root: str) -> int:
    """Non-blank lines of the package's Python sources."""
    total = 0
    for d, _dirs, files in os.walk(os.path.join(root, "morph_xr2rml_spark")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += sum(1 for line in fh if line.strip())
    return total


def spec(spark, root: str) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores(),
        "mem_available_gib": round(available_gib(), 2),
        "heap_mib": heap_mib(),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "package_loc": package_loc(root),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
