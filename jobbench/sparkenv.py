"""Spark session, process-tree lifetime, memory and host context for one
run.

Spark runs at ``local[2]``: two task threads, each feeding one Arrow
Python worker, so the busy processes match a 4-vCPU host without
oversubscription. Driver memory is fixed, initial heap equal to maximum,
instead of taking the engine's 16g default. Every file Spark, the JVM and
the Python workers write goes under the run's work directory.
"""

from __future__ import annotations

import os
import re
import signal
import threading
import time

MASTER = "local[2]"
SLOTS = 2
DRIVER_MEMORY = "3g"
HEAP_BYTES = 3 << 30  # DRIVER_MEMORY in bytes
SHUFFLE_PARTITIONS = 2 * SLOTS
SAMPLE_INTERVAL_S = 0.2
STOP_TIMEOUT_S = 60.0
PROBE_LOOPS = 14_000_000

_gc_log = ""  # the running JVM's GC log


def start_spark(workdir: str):
    """Start the run's SparkSession with all scratch paths in ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # inherited by the JVM and the Python workers it forks
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    global _gc_log
    _gc_log = os.path.join(workdir, "gc.log")
    from textract_demo_spark.engine.session import get_spark
    spark = get_spark(
        master=MASTER, app="jobbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}"
                f" -XX:-UsePerfData -Xlog:gc:file={_gc_log}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    # IcebergLike scans a part_key=* glob; Spark logs a stack trace per
    # read while probing it for a streaming-sink metadata directory
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        jvm.org.apache.logging.log4j.Level.ERROR)
    return spark


def _children() -> dict[int, int]:
    """{pid: parent pid} for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        out[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its descendants."""
    root = root or os.getpid()
    parent = _children()
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _java_heap(pid: int) -> str:
    """The /proc/<pid>/smaps header prefix of the JVM's Java heap: its
    largest read-write mapping, within the fixed heap size (the JVM may
    map a few MB of archived classes at the top of the heap apart)."""
    best = (0, "")
    with open(f"/proc/{pid}/maps") as fh:
        for line in fh:
            span, perms = line.split(None, 2)[:2]
            lo, hi = span.split("-")
            size = int(hi, 16) - int(lo, 16)
            if perms.startswith("rw") and best[0] < size <= HEAP_BYTES:
                best = (size, f"{span} ")
    if best[0] < 0.9 * HEAP_BYTES:
        raise RuntimeError(f"JVM {pid} maps no {DRIVER_MEMORY} Java heap")
    return best[1]


def _resident_kb(pid: int, header: str) -> int:
    """Resident kB of the mapping whose smaps entry starts with
    ``header``."""
    try:
        with open(f"/proc/{pid}/smaps") as fh:
            text = fh.read()
    except OSError:
        return 0
    at = text.find(header)
    if at < 0:
        return 0
    at = text.index("\nRss:", at) + 5
    return int(text[at:text.index("kB", at)])


_GC_AFTER = re.compile(r"Pause (?:Young|Full).*->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def peak_live_heap_mb(log: str) -> float:
    """Largest Java heap occupancy right after a collection, from the
    JVM's GC log: the heap the program's live data needs."""
    peak = 0.0
    with open(log) as fh:
        for line in fh:
            m = _GC_AFTER.search(line)
            if m:
                peak = max(peak, int(m.group(1)) * _MB[m.group(2)])
    return peak


class MemorySampler:
    """Peak memory of this process tree: driver Python, JVM and Python
    workers. Processes count by their proportional set size, so pages a
    forked worker shares with its parent count once. The Java heap counts
    by its live data after collection, not by its resident pages: with
    the heap fixed, how much of it is resident follows the collector's
    young-generation sizing, not the program."""

    def __init__(self):
        from pyspark import SparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.heap = _java_heap(self.jvm_pid)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def sample(self) -> None:
        kb = (sum(_pss_kb(p) for p in process_tree())
              - _resident_kb(self.jvm_pid, self.heap))
        self.peak_kb = max(self.peak_kb, kb)

    def peak_mb(self) -> float:
        return (self.peak_kb / 1024
                + peak_live_heap_mb(_gc_log))

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (the Python daemon and workers included) has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    descendants = [p for p in process_tree() if p != os.getpid()]
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(STOP_TIMEOUT_S)
            except Exception:
                proc.kill()
                proc.wait(STOP_TIMEOUT_S)
        deadline = time.monotonic() + STOP_TIMEOUT_S
        for pid in descendants:
            while _alive(pid):
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
                    deadline = time.monotonic() + STOP_TIMEOUT_S
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def probe_s() -> float:
    """A fixed single-core pure-Python loop (~1 s on a 2-3 GHz core):
    host context for the record, never used to normalise a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(PROBE_LOOPS):
        acc ^= i * 7
    return time.perf_counter() - t0


def host_context() -> dict:
    return {
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
    }
