"""Machine facts, process environment, Spark session lifecycle and the
peak-RSS sampler.

Everything the benchmark writes goes under ``<checkout>/.perfbench``:
the JVM temp dir, ``spark.local.dir``, the ``--py-files`` zip (through
``TMPDIR``), corpora, references and reports.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import numpy as np

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
SHUFFLE_PARTITIONS = 8


def prepare_env(work: str) -> None:
    """Pin every temp/scratch location inside ``work`` and fix the
    worker interpreter.  Must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS would override spark.local.dir in local mode
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # the package reads tuning knobs from SPARK_GRAFT_*; runs use defaults
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    # the launcher JVM that spark-submit starts first would otherwise
    # keep a perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = tmp


def box_facts(probe_mb: int = 64, reps: int = 5) -> dict:
    """nproc, RAM and a memcpy probe (best of ``reps`` copies of a
    ``probe_mb`` MiB buffer)."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    src = np.ones(probe_mb * (1 << 20), dtype=np.uint8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return {"nproc": os.cpu_count(), "cores_used": CORES,
            "ram_gb": round(mem_kb / 2**20, 2),
            "memcpy_gb_s": round(src.nbytes / best / 1e9, 2)}


def session_conf(work: str, event_log_dir: str | None = None) -> dict:
    """Explicit box-sized confs passed to ``build_session(extra=...)``;
    never the package defaults (32 cores, 48g driver)."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then does not
        # depend on when G1 chose to grow the heap in a given run; no
        # perf-data file, which the JVM would keep under /tmp
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} "
                                          f"-Xms{DRIVER_MEMORY} "
                                          "-XX:+AlwaysPreTouch "
                                          "-XX:-UsePerfData"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(work: str, event_log_dir: str | None = None):
    """build_session + a warm-up job that starts every Python worker and
    imports the package from the shipped zip.  Returns
    (spark, session_s, warm_s)."""
    from ai_log_analyzer_spark.conf import build_session

    t0 = time.perf_counter()
    spark = build_session(app="perfbench", cores=CORES,
                          shuffle_partitions=SHUFFLE_PARTITIONS,
                          extra=session_conf(work, event_log_dir))
    t1 = time.perf_counter()

    # nested, so it is pickled by value: workers cannot import perfbench
    def _warm_partition(batches):
        import ai_log_analyzer_spark.catalog  # noqa: F401 — worker import
        import ai_log_analyzer_spark.scorer  # noqa: F401
        yield from batches

    (spark.range(0, CORES * 16, 1, CORES)
     .mapInPandas(_warm_partition, "id long").count())
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # spark-submit exits when stdin closes
        proc.wait(60)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _descendant_rss(root_pid: int, page: int, exclude: set[int]
                    ) -> dict[int, tuple[str, int]]:
    """{pid: (command name, RSS bytes)} of the java and python processes
    below root_pid, leaving out the subtrees of ``exclude``.  Other names
    are skipped: a child the JVM forks before exec carries the thread's
    name and the JVM's whole RSS."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = {}, list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        stack.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = (comm, int(f.read().split()[1]) * page)
        except OSError:
            continue
    return out


class RssSampler:
    """Background sampler of the summed RSS of every process this one
    started (the driver JVM, the Python worker daemon and its workers),
    except the benchmark's own helpers listed in ``exclude``."""

    def __init__(self, interval_s: float = 0.25,
                 exclude: set[int] | None = None):
        self.interval_s = interval_s
        self.exclude = exclude or set()
        self.peak_bytes = 0
        self.peak_procs: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            procs = _descendant_rss(pid, self._page, self.exclude)
            total = sum(rss for _, rss in procs.values())
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_procs = total, procs
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def peak_breakdown(self) -> dict:
        """MB per command name at the peak, with process counts."""
        out: dict = {}
        for comm, rss in self.peak_procs.values():
            mb, n = out.get(comm, (0.0, 0))
            out[comm] = (mb + rss / 2**20, n + 1)
        return out
