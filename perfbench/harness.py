"""Process set-up shared by the workloads: environment, Spark session
cycles and result provenance.

Create the ``Harness`` before anything starts Spark: it points every
temporary, local and log directory into the run's work directory so a
run reads and writes only inside its checkout.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, ".out")
WARM_SETUPS = 1  # set-ups after the cold one, in the run's details


class Harness:
    """One benchmark process: its work directory, Spark log and session."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        for d in (self.tmp, self.event_dir, OUT_DIR):
            os.makedirs(d, exist_ok=True)
        # no JVM perf-data files under /tmp, from the launcher or the driver
        self.jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["SPARK_LAUNCHER_OPTS"] = self.jvm_opts
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        sys.path.insert(0, ROOT)
        # The JVM inherits fd 2: send Spark's log to a file (it is also
        # where compile-fallback lines are counted) and keep Python's own
        # stderr on the terminal.
        self.spark_log = os.path.join(self.work, "spark.log")
        sys.stderr.flush()
        keep = os.dup(2)
        log_fd = os.open(self.spark_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(log_fd, 2)
        os.close(log_fd)
        sys.stderr = os.fdopen(keep, "w", buffering=1)
        self.spark = None
        self.spark_version = None
        self.driver_memory = None
        self.setup_cycles: list[float] = []
        self.get_spark_s: list[float] = []

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": self.jvm_opts,
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self):
        """(Re)start the Spark session through the package's get_spark."""
        from hw_kafka_streams_spark.session import get_spark

        self.stop_session()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=self.conf())
        self.get_spark_s.append(time.perf_counter() - t0)
        self.spark_version = self.spark.version
        self.driver_memory = self.spark.conf.get("spark.driver.memory")
        return self.spark

    def stop_session(self) -> None:
        """Stop the session; this also completes its event log."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, register, warm: int = WARM_SETUPS) -> float:
        """Set up cold, then ``warm`` more times: bring the session up
        (``get_spark``), then ``register(spark)`` (the workload's inputs
        and warm-up). Returns the cold set-up's seconds: it launches the
        JVM, so launch-time settings count. The warm set-ups restart
        only the session."""
        for _ in range(1 + warm):
            t0 = time.perf_counter()
            register(self.start_session())
            self.setup_cycles.append(time.perf_counter() - t0)
        return self.setup_cycles[0]

    def spark_log_size(self) -> int:
        return os.path.getsize(self.spark_log)

    def count_log(self, needle: str, start: int, end: int) -> int:
        with open(self.spark_log, "rb") as f:
            f.seek(start)
            return f.read(end - start).count(needle.encode())

    def close(self) -> None:
        """Stop Spark, wait for its JVM to exit, remove the work dir."""
        self.stop_session()
        if "pyspark" in sys.modules:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = None
        shutil.rmtree(self.work, ignore_errors=True)


# ---------------------------------------------------------------- provenance

def source_digest() -> str:
    """sha256 over the package's Python sources: identifies the code
    under test where no git metadata is present."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hw_kafka_streams_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    return None


def provenance(h: Harness, params: dict, seconds: int) -> dict:
    import pyspark

    return {
        "workload": h.workload,
        "seed": h.seed,
        "trace": h.trace,
        "run_seconds": seconds,
        "params": params,
        "nproc": len(os.sched_getaffinity(0)),
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "pyspark": pyspark.__version__,
        "spark": h.spark_version,
        "python": platform.python_version(),
        "driver_memory": h.driver_memory,
    }
