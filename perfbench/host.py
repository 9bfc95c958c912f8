"""Host sizing, the Spark session, and resident-memory sampling.

The session comes from the package's one factory, ``session.get_spark``;
this module only derives its arguments from the host: cores from
``SPARK_GRAFT_CPUS`` or the CPU affinity mask (what ``nproc`` reports),
driver memory from a sixteenth of physical RAM (the inputs are small,
and a small heap keeps resident memory steady on a shared host), shuffle
partitions equal to cores. Everything Spark or Python writes to disk is
pointed at the benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import threading


def host_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_info() -> dict:
    return {
        "cpus": host_cpus(),
        "ram_mb": host_ram_mb(),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
    }


def start_spark(root: str, work: str):
    """Point every temp path at ``work``, make the package importable by
    the Python workers from any working directory, and build the session."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM inherits this environment and hands it to every Python
    # worker it forks, so mapInPandas / pandas-UDF tasks import the
    # package no matter where the benchmark was launched from
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)

    from character_identification_spark.session import get_spark

    cores = host_cpus()
    driver_gb = max(1, host_ram_mb() // 16384)
    return get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{driver_gb}g",
            "spark.local.dir": local,
            # each run is one short-lived driver JVM. C1 only: C2 compile
            # threads took about half of a run's CPU on a 4-CPU host, and
            # without the C1 and serial-GC flags a crawl_link run took
            # 88-89 s instead of 70-75 s, which the run budget of the
            # benchmark cannot hold.
            # C1 alone would shrink the code cache to 48 MB, which fills
            # during the drop loop and turns the compiler off; keep the
            # 240 MB the tiered default reserves. Serial GC: no concurrent
            # GC threads on a 1 GB heap.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1"
                " -XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM and wait for it to
    exit (``SparkSession.stop`` alone leaves the JVM process running)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command field may hold spaces; ppid follows its closing ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds, user plus system, that ``root_pid`` and every process
    under it have used so far (the driver, the JVM it launched, the Python
    workers the JVM forked). Time a virtual machine's host gives to other
    guests (steal) is not in it."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _cpu_ticks(pid)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the resident memory of a process tree (the driver JVM and
    the Python workers it forks) on a background thread; ``peak_mb`` is
    the largest sum seen between ``start`` and ``stop``."""

    INTERVAL_S = 1.0

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._halt.wait(self.INTERVAL_S)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
        return self.peak_mb


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
    }
