"""The benchmark's Spark session and the processes behind it.

The session's layout is pinned so that blob boundaries, and with them
``zstd_bytes_per_page``, ``encode.calls`` and every ``blob_sha256``, depend
on the input alone and not on the core count: the default parallelism (and
so ``spark.range`` and parquet split counts), the shuffle partition count
and the Arrow batch size are constants, and AQE keeps its runtime plan
choices but may not coalesce shuffle partitions (its coalescing target is
derived from the default parallelism).

The JVM is made to run at its steady speed from the first pass. It compiles
with C1 only: with C2 on, a pass's CPU kept falling for 13 passes (~45 s of
work, 4-core host) — longer than a run can afford to warm up — so a run's
median depended on how far its passes got along that curve, and throughput
spread by up to a quarter between runs of one build. With C1 the passes are
flat from the first, at ~10-15% more CPU per pass than C2's plateau. The
heap starts at its full size, so G1 does not spend the first passes growing
it.

Sinks go through Hadoop's raw local file system: the default checksummed
one writes a ``.crc`` sidecar next to every file, which the object stores
and HDFS a production sink writes to do not. Without the native Hadoop
library every local file create or mkdir also forks a ``chmod``; with the
sidecars a 189-file ``route_stage`` forked ~1250 processes instead of ~870
and took about twice as long (4-core host).

Everything the JVM and the Python workers write goes under the run's work
directory, and :meth:`BenchSession.stop` ends the JVM and waits for every
process it started.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

#: layout constants — never derived from ``nproc``
INPUT_PARTITIONS = 8
SHUFFLE_PARTITIONS = 4
ARROW_BATCH_ROWS = 20_000

#: the JVM heap, fixed at its full size from the start
DRIVER_MEMORY = "3g"

_PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def default_cores() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_BYTES
    except (OSError, ValueError, IndexError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class WorkerRssSampler:
    """Peak of the summed RSS of the Python worker processes (the pyspark
    daemon and the workers it forks), sampled from ``/proc`` every
    ``interval`` seconds while the ``with`` block runs."""

    def __init__(self, jvm_pid: int, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        return sum(_rss_bytes(p) for p in descendants(self.jvm_pid)
                   if _is_python(p))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval)

    def __enter__(self) -> "WorkerRssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="worker-rss")
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self.sample())


class BenchSession:
    """A ``local[cores]`` session with the pinned layout, confined to
    ``work_dir``."""

    def __init__(self, repo_root: str, work_dir: str, cores: int):
        self.repo_root = repo_root
        self.work_dir = work_dir
        self.cores = cores
        self.spark = None
        self.jvm_pid: int | None = None
        self._proc = None

    def start(self):
        tmp = os.path.join(self.work_dir, "tmp")
        local = os.path.join(self.work_dir, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        # the workers import the package from the checkout; temp files of
        # this process, the JVM and the workers stay in the work directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.repo_root, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

        from pyspark.sql import SparkSession

        self.spark = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.default.parallelism", str(INPUT_PARTITIONS))
            .config("spark.sql.files.minPartitionNum", str(INPUT_PARTITIONS))
            .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                    str(ARROW_BATCH_ROWS))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1")
            .config("spark.local.dir", local)
            .config("spark.hadoop.fs.file.impl",
                    "org.apache.hadoop.fs.RawLocalFileSystem")
            .config("spark.sql.warehouse.dir",
                    os.path.join(self.work_dir, "warehouse"))
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = self.spark.sparkContext._gateway.proc
        self.jvm_pid = self._proc.pid
        return self.spark

    def stop(self, timeout: float = 60.0) -> None:
        """Stop Spark, end the JVM and wait until every process it started
        has exited (killing any still alive at ``timeout``)."""
        if self._proc is None:
            return
        started = descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            from pyspark import SparkContext

            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            # the gateway server exits when its stdin closes
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=10)
            _wait_gone(started, timeout=timeout)
            self._proc = None


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL any still alive at ``timeout``,
    then wait a further 10 s for them."""
    alive = list(pids)
    for wait_s, kill_first in ((timeout, False), (10.0, True)):
        if kill_first:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if not _is_gone(p)]
            time.sleep(0.05)
        if not alive:
            return
    raise RuntimeError(f"processes still running after SIGKILL: {alive}")


def _is_gone(pid: int) -> bool:
    """Exited, or a zombie waiting for a parent that is not this process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
