"""Spark session lifetime, process-tree accounting and host context.

The session is what a user of the engine would start: ``local[nproc]`` with
the CLI's settings (``plans/pipeline.py``), a fixed driver heap, and every
Spark directory inside the work area. Stopping it closes the JVM and waits
for every process it started.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
DRIVER_MEMORY = "2g"


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rindex(")") + 2:].split()
    if rest[0] == "Z":
        return None
    cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return int(rest[1]), cpu, int(rest[21]) * PAGE


def tree() -> dict:
    """pid -> (cpu ticks, rss bytes) for this process and its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    return sum(c for c, _ in tree().values()) / CLK_TCK


class RssSampler:
    """Peak summed RSS of the process tree while ``active``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.active = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak = max(self.peak, sum(r for _, r in tree().values()))

    def close(self):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------

def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def triad_gbs(root: str) -> float:
    """The repo's fixed single-thread memory-bandwidth probe."""
    import sys
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from scaling_runner import bw_probe
    return float(bw_probe())


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def launch(work: str, app: str, event_log: str | None = None):
    """Start the JVM and session as the engine's CLI does."""
    from pyspark.sql import SparkSession

    cpus = os.cpu_count()
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{cpus}]").appName(app)
         .config("spark.sql.shuffle.partitions", str(cpus * 2))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_pool(spark) -> None:
    """One task per core through a Python worker that imports the engine, so
    the worker pool is up before the first pass."""
    cpus = os.cpu_count()

    def touch(batches):
        import planetiler_spark.operators.tile_pipeline  # noqa: F401
        for pdf in batches:
            yield pdf

    spark.range(0, cpus, numPartitions=cpus).mapInPandas(touch, "id long").count()


def stop(spark, timeout: float = 30.0) -> None:
    """Stop the session, close the JVM and wait until every process this run
    started (JVM, Python daemon, workers) has exited."""
    from pyspark import SparkContext

    started = set(tree()) - {os.getpid()}
    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            if gw.proc is not None:
                gw.proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    gw.proc.wait(timeout=timeout)
                except Exception:
                    gw.proc.kill()
                    gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + timeout
        while any(_stat(p) is not None for p in started):
            if time.time() > deadline:
                for p in started:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                if time.time() > deadline + 5:
                    break
            time.sleep(0.05)
