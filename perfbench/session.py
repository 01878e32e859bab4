"""Spark session sized for a small box, and process-tree RSS sampling.

The session runs ``local[nproc]`` with a fixed heap and fixed shuffle
partitions, keeps every scratch file inside the work directory, and puts
the checkout root on ``PYTHONPATH`` so Python workers can import the
package wherever the benchmark is launched from.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time

DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 8


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(root: str, work: str):
    """Start the session; every temp and local dir lives under ``work``.
    Python workers import the program from ``root`` and the benchmark's
    own functions from this directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    here = os.path.dirname(os.path.abspath(__file__))
    paths = [root, here] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc()}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.default.parallelism", str(SHUFFLE_PARTITIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM and every process it started, and
    wait until they have all exited."""
    from pyspark import SparkContext

    started = tree_pids(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running after stop: {sorted(started)}")
        time.sleep(0.1)


def noop(df) -> None:
    """Force every row and column of ``df`` without a result set."""
    df.write.format("noop").mode("overwrite").save()


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from ``/proc/stat``;
    stolen ticks are those the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _children() -> dict[int, list[int]]:
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


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pids(root_pid: int) -> set[int]:
    """``root_pid`` and all its descendants."""
    kids = _children()
    out, stack = set(), [root_pid]
    while stack:
        pid = stack.pop()
        out.add(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """RSS of ``root_pid`` and all its descendants (driver, JVM, workers)."""
    return sum(_rss_kb(p) for p in tree_pids(root_pid)) / 1024.0


class RssSampler:
    """Samples the process tree's summed RSS on a thread; ``peak_mb`` is the
    largest sum seen (``/proc`` only, no psutil)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

