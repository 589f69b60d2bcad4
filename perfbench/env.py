"""Pinned benchmark environment: one local-mode Spark session whose JVM,
Python workers, temp files and outputs all stay inside the checkout.

Settings (also listed in perfbench/README.md):

- ``local[CORES]`` with CORES = min(2, nproc), shuffle partitions = CORES;
- driver heap fixed at HEAP with ``-Xms`` = ``-Xmx`` and pre-touched, G1
  GC, so resident memory does not depend on when the collector runs
  (the engine default is a lazily committed 32g heap); 2 parallel GC
  threads, 1 concurrent GC thread, 2 JIT compiler threads;
- the engine's Python-worker allocator tuning switched off
  (``SPARK_GRAFT_NO_ALLOC_TUNING``): with it, every worker keeps its
  high-water heap, so worker memory would reflect which batches each
  worker happened to run rather than what the round holds live;
- ``spark.local.dir``, the warehouse dir, ``java.io.tmpdir``, ``TMPDIR``
  and the JVM <-> Python-worker socket dir under the checkout's work dir.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

from procs import ProcTree, descendants

# Two task threads on a 4-vCPU host: a deep-crawl round already keeps
# ~2.7 cores busy at local[2] (JIT threads compile ~100 fresh code-
# generated classes a round), so more task threads only queue behind the
# JIT and the GC and make the round time follow the host's load.
CORES = min(2, os.cpu_count() or 1)
HEAP = "2g"
JAVA_OPTS = (
    f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseG1GC -XX:-UsePerfData "
    # GC and JIT thread counts pinned rather than sized from nproc
    "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2 "
    # kept from the engine's session defaults (session.get_spark)
    "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=128"
)
# sun_path holds 107 bytes; the daemon adds "/.<uuid4>.sock" (43 bytes)
_MAX_SOCK_DIR = 107 - 43


def settings() -> dict:
    return {
        "master": f"local[{CORES}]",
        "shuffle_partitions": CORES,
        "driver_heap": HEAP,
        "java_opts": JAVA_OPTS,
        "python_worker_alloc_tuning": False,
        "nproc": os.cpu_count(),
    }


class BenchEnv:
    """Owns the work dir, the Spark session and the process tree."""

    def __init__(self, root: str):
        self.root = root
        self.work = os.path.join(root, ".perfbench_work")
        self.spark = None
        self.procs: ProcTree | None = None
        self._gateway_proc = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start(self):
        from pyspark.sql import SparkSession

        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "sock"):
            os.makedirs(self.path(d), exist_ok=True)
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_NO_ALLOC_TUNING"] = "1"
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        sock = self.path("sock")
        if len(sock) > _MAX_SOCK_DIR:
            # daemon and JVM both run in the checkout root, so a relative
            # socket dir resolves to the same place for both
            sock = os.path.relpath(sock, self.root)
        from legislation_scraper_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions": (
                    f"{JAVA_OPTS} -Djava.io.tmpdir={tmp}"
                ),
                "spark.local.dir": self.path("local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.hadoop.hadoop.tmp.dir": tmp,
                "spark.python.unix.domain.socket.dir": sock,
            },
        )
        self.spark.range(1).collect()  # the first job starts executors
        self._gateway_proc = SparkSession.getActiveSession(
        ).sparkContext._gateway.proc
        self.procs = ProcTree(os.getpid(), self._gateway_proc.pid)
        return self.spark

    def jvm_counters(self) -> dict[str, float]:
        """Cumulative since JVM start: JIT compile ms and GC ms (JMX), and
        classes compiled by Spark's code generator (its cache misses)."""
        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
            "gc_ms": sum(
                float(b.getCollectionTime())
                for b in mf.getGarbageCollectorMXBeans()
            ),
            "codegen_classes": float(
                codegen.METRIC_COMPILATION_TIME().getCount()
            ),
        }

    def stop(self) -> None:
        """Stop Spark, then wait for the JVM and every worker to exit."""
        if self.procs is not None:
            self.procs.stop()
        proc = self._gateway_proc
        kids = descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
            _reap(kids)
        shutil.rmtree(self.work, ignore_errors=True)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def _reap(pids: list[int], timeout_s: float = 10.0) -> None:
    """Wait until every pid has exited; SIGKILL what outlives the wait."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
        print(f"# killed leftover process {p}", file=sys.stderr)
