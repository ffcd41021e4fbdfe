"""Run environment of one benchmark process: sizing, file isolation, Spark
session lifecycle and process-tree memory sampling.

Everything the run writes goes under ``<checkout>/.perfbench_work``: Spark
local dirs, the JVM and Python temp dirs, generated inputs and checkpoints.
"""

from __future__ import annotations

import os
import shlex
import shutil
import subprocess
import threading

WORK_DIRNAME = ".perfbench_work"


def cpu_count() -> int:
    """CPUs this process may run on: what ``nproc`` prints with
    OMP_NUM_THREADS unset."""
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A sixteenth of the memory available at start, between 512 MiB and
    1 GiB: the inputs are small, the machine's memory is shared, and a heap
    far above the working set makes the process tree's memory follow GC
    timing."""
    return max(512, min(1024, mem_available_mb() // 16))


def configure(root: str, ui: bool) -> str:
    """Set the environment every Spark session of this run inherits; return
    the (emptied) work dir. Must run before pyspark starts a JVM."""
    work = os.path.join(root, WORK_DIRNAME)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp  # tempfile users: package zip, bloom shards
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_heap_mb()}m"
    warehouse = os.path.join(work, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={warehouse}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    # the status REST API lives in the UI server: on only for traced runs
    if ui:
        os.environ["SPARK_GRAFT_UI"] = "true"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    return work


def start_spark(app_name: str):
    """A session on a freshly launched JVM, at local[<cpus>]."""
    from wikifrontier.session import get_spark

    cpus = cpu_count()
    spark = get_spark(
        master=f"local[{cpus}]", app_name=app_name, shuffle_partitions=max(cpus, 8)
    )
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def stop_spark() -> None:
    """Stop the session and its JVM, and wait until the JVM has exited, so
    the next ``start_spark`` launches a fresh one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_mb(root_pid: int) -> float:
    """Proportional resident memory (PSS) of ``root_pid`` and all its
    descendants. PSS splits each shared page among the processes mapping
    it, so the total counts every page once; summed RSS counted the pages
    Python workers share with the daemon they fork from once per worker,
    and jumped by about 1 GiB with the number of live workers."""
    children = _children_map()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            total += _pss_kb(pid)
        except OSError:
            continue  # exited while sampling
        stack.extend(children.get(pid, ()))
    return total / 1024


class MemSampler:
    """Samples the driver process tree's total PSS every ``PERIOD_S``
    seconds while active; ``peak_mb`` is the largest sample."""

    PERIOD_S = 1.0

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "MemSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of the regular files under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(base, name))
            files += 1
    return total, files


def clear_cached(spark) -> None:
    """Drop every cached relation and persisted block (crawl round leaves),
    so one unit of work does not bill its leftovers to the next."""
    import gc

    gc.collect()
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
