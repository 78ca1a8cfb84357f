"""Machine-sized Spark session, box-noise probe and peak-RSS sampler.

Everything the session writes (shuffle and spill files, JVM and Python
temp files, the event log) lands under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

YOUNG_MB = 384


def cpus() -> int:
    """Cores to use: ``SPARK_GRAFT_CPUS`` when set, else the cores this
    process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if env:
        return max(1, int(env))
    return max(1, len(os.sched_getaffinity(0)))


def driver_memory_mb() -> int:
    """A quarter of physical memory, capped at 2 GiB: the driver JVM
    shares the box with its Python workers and with other tenants."""
    total_kb = 16 * 1024 * 1024
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
                break
    return max(1024, min(2048, total_kb // 1024 // 4))


def start_spark(root: str, work: str, n_cpus: int, event_log_dir: str | None = None):
    """A ``local[n_cpus]`` session whose local dirs and temp files live
    under ``work``. The event log is written only when
    ``event_log_dir`` is given (the traced run)."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # inherited by the JVM and, through it, by the Python workers
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")

    from pyspark.sql import SparkSession

    mem = driver_memory_mb()
    b = (
        SparkSession.builder.master(f"local[{n_cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * n_cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{mem}m")
        # the heap reserved at its full size but not touched, and a fixed
        # young generation: G1 then makes no timing-driven sizing choices,
        # and a heap region becomes resident only once the program needs it
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}m -Xmn{YOUNG_MB}m",
        )
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it: the
    JVM exits once its gateway's stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_python_workers(spark, n_cpus: int) -> None:
    """Start the pandas-UDF Python workers and import the crawl
    operators in them, so no timed stage pays worker start-up."""

    def _imports(batches):
        import warps_nutch_spark.operators.fetch  # noqa: F401
        import warps_nutch_spark.operators.parse  # noqa: F401
        import warps_nutch_spark.store.urlseen  # noqa: F401

        yield from batches

    spark.range(0, 4 * n_cpus, numPartitions=2 * n_cpus).mapInPandas(
        _imports, schema="id long"
    ).count()


def noise_probe() -> dict:
    """1-minute load average plus a single-thread matmul timing, so a
    run measured while other processes load the machine shows it."""
    import numpy as np

    probe = {"load_avg_1m": os.getloadavg()[0]}
    rng = np.random.default_rng(0)
    a = rng.random((1200, 1200))
    b = rng.random((1200, 1200))
    a @ b
    t0 = time.perf_counter()
    for _ in range(3):
        a @ b
    probe["matmul_1t_s"] = time.perf_counter() - t0
    return probe


def disk_bytes(path: str) -> int:
    """Bytes of all files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once in total, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def own_tree_rss() -> dict[int, int]:
    """Resident memory of the driver JVM (this process's child) and of
    the Python daemon and workers below it, the workers' by PSS since
    they share the daemon's pages. Short-lived helper processes the JVM
    spawns are left out: one sampled between fork and exec would count
    the JVM's heap a second time. The JVM's RSS comes from ``statm``,
    which unlike ``smaps_rollup`` does not walk its page tables."""
    out, todo = {}, [(pid, True) for pid in _children(os.getpid())]
    while todo:
        pid, top = todo.pop()
        if top:
            out[pid] = _rss_bytes(pid)
        elif _comm(pid).startswith("python"):
            out[pid] = _pss_bytes(pid)
        todo.extend((c, False) for c in _children(pid))
    return out


class RssSampler:
    """Peak of the summed :func:`own_tree_rss`, sampled on a timer while the
    ``with`` block runs."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_procs = 0
        self.peak_largest_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while True:
            per_pid = own_tree_rss()
            total = sum(per_pid.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_procs = len(per_pid)
                self.peak_largest_mb = max(per_pid.values(), default=0) / 2**20
            if self._stop.wait(self.interval_s):
                return
