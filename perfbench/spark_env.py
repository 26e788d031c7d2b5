"""Spark lifecycle for the benchmark: sessions from the engine's own
factory with every file kept in the checkout, a full shutdown of the JVM and
the workers it started, a process-tree RSS sampler and the environment
stamp a result is only comparable under."""

from __future__ import annotations

import os
import platform
import subprocess
import threading

from pyspark import SparkContext
from pyspark.sql import SparkSession

from neural_locality_sensitive_hashing_spark import spark_session

DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Env:
    """Everything the benchmark writes lives under ``out_dir`` (inside the
    checkout): Spark local dirs, JVM and Python temp files, event logs."""

    def __init__(self, out_dir: str):
        self.out_dir = os.path.abspath(out_dir)
        self.tmp = os.path.join(self.out_dir, "tmp")
        self.local = os.path.join(self.out_dir, "spark-local")
        for d in (self.tmp, self.local):
            os.makedirs(d, exist_ok=True)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        # the JVM and the Python workers it forks inherit this environment
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ.pop("SPARK_GRAFT_TMPFS", None)  # keep shuffle scratch in the checkout
        # no hsperfdata files in the system temp dir, for the launcher JVM too
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        self.cores = nproc()
        self.master = f"local[{self.cores}]"

    def start(self, app: str, event_log_dir: str | None = None) -> SparkSession:
        """Launch a JVM and a session with the engine's own factory."""
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            # the scan split tools/run_dedup_job.py ships
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = event_log_dir
            conf["spark.eventLog.compress"] = "false"  # plain JSON lines
            conf["spark.eventLog.rolling.enabled"] = "false"
        spark = spark_session(app, master=self.master, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark


def stop(spark: SparkSession | None) -> None:
    """Stop the session AND its JVM, and wait for the JVM to exit, so the
    next ``Env.start`` is a cold start and nothing outlives the run."""
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and the
    Python workers it forks), sampled every ``period`` seconds. A process
    counts once it has been seen in two consecutive samples: a child the
    JVM forks for a shell command shares the JVM's pages until it execs,
    and counting it would add the whole JVM a second time."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_bytes = 0
        self._seen: set[tuple[int, str]] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        started: dict[int, str] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            parent[int(e)], started[int(e)] = int(fields[1]), fields[19]
        me = os.getpid()
        now: set[tuple[int, str]] = set()
        total = 0
        for pid in parent:
            p, hops = parent[pid], 0
            while p not in (me, 0, 1) and p in parent and hops < 16:
                p, hops = parent[p], hops + 1
            if p != me:
                continue
            key = (pid, started[pid])
            now.add(key)
            if key not in self._seen:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self._seen = now
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)


def stamp(spark: SparkSession, env: Env, seed: int) -> dict:
    """What a result depends on besides the code; compare.py refuses to
    compare results whose stamps differ."""
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    local = conf.get("spark.local.dir", "")
    return {
        "nproc": env.cores,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "tmpfs_scratch": local.startswith("/dev/shm"),
        "pyspark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "driver_memory": conf.get("spark.driver.memory", ""),
        "seed": seed,
    }
