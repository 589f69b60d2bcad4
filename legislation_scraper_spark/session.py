"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a multi-executor cluster reading ~100 TB:
- AQE on for the library (runtime coalesce, skew-join splitting,
  runtime broadcast conversion): dedup, curation, graph and the oracle
  queries join and group skewed data whose sizes are unknown until it
  runs, cf. SURVEY.md §2.5 W3.  The crawl round
  (``plans/crawl.CrawlEngine.round``) switches AQE off for its own
  duration and restores it after: the round fixes its own partition
  counts (salt buckets, fetch partitions, bucket counts), defeats host
  skew by salting and names its broadcasts.  AQE runs every shuffle and
  broadcast stage as its own job and re-plans the rest of the query
  after each, which on a small round was most of the round's Spark jobs
  and driver time.  Measured on perfbench's ``deep_crawl`` and
  ``wide_round`` configuration (no global round budget, no host-edge
  log): half the jobs a ``deep_crawl`` round, and faster rounds in 9
  of 10 alternating pairs on each workload.  The host-budget graph scoring (``global_round_budget`` with
  ``budget_weights`` ``trust_backlog`` or ``opic_backlog``) keeps the
  session's setting, as the graph code it runs is planned for AQE; and
  inputs the caller cached are built before AQE goes off
  (``plans/crawl._build_cached``).
- Generated code reused across queries: whole-stage codegen class names
  carry no stage id (``spark.sql.codegen.useIdInClassName=false``), so
  the same operator tree compiles to the same source in every round,
  and the codegen cache holds 4000 classes, not 100 — one crawl round
  alone generates ~110.  A repeated round then compiles a handful of
  classes instead of ~110 fresh ones.  Neither setting changes results;
  the cache size is a static conf, fixed when the JVM's first session
  starts.
- Arrow enabled — every Python-side transform is a vectorized pandas UDF
  (BASELINE.json input_hint mandates no per-row Python).
- UTC session timezone so timestamp semantics are engine-independent.
- Parquet pushdown/pruning left at Spark defaults (on).

In the sandbox we run ``local[N]``; on a real cluster the same builder is
used by ``spark-submit --py-files`` with master/executor conf supplied
externally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def _tune_python_worker_allocators() -> None:
    """Keep Python-worker memory churn out of the kernel.

    Measured on this 32-vCPU VM (see BASELINE.md "Python-boundary
    scaling"): a no-op pandas UDF over 1M ~3 KB documents took 6.8 s at
    local[8] but 44 s at local[32], with 12 CPU-cores of *system* time —
    the workers' per-batch allocation of millions of Python string
    objects makes glibc/pymalloc return pages to the kernel
    (munmap/madvise), and every unmap IPIs all other cores for TLB
    shootdown; the cost grows superlinearly with core count.  Routing
    object allocations through glibc (PYTHONMALLOC=malloc) and telling
    glibc to never trim or mmap below 1 GB keeps freed memory inside the
    allocator: the same probe drops to 6.2 s at local[32].  The Arrow
    pool joins the same tuned heap via ARROW_DEFAULT_MEMORY_POOL=system.

    Cost: each worker retains its high-water allocation (~hundreds of
    MB under crawl parse) instead of returning it; right trade on any
    executor provisioned for pandas UDFs.  Must run BEFORE the JVM
    starts: workers inherit the gateway's environment.  Opt out with
    SPARK_GRAFT_NO_ALLOC_TUNING=1.
    """
    if os.environ.get("SPARK_GRAFT_NO_ALLOC_TUNING"):
        return
    os.environ.setdefault("PYTHONMALLOC", "malloc")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def get_spark(
    app_name: str = "legislation-scraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master=None`` leaves master resolution to spark-submit / env; tests
    pass ``local[N]`` explicitly.
    """
    _tune_python_worker_allocators()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.sql.codegen.cache.maxEntries": "4000",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Byte-bound Arrow batches: crawl rows carry multi-KB html bodies,
        # so the default 10k-row batches reach ~56 MB each; at 32 concurrent
        # tasks that is >1.7 GB of in-flight Arrow buffers, which amplifies
        # allocation stalls and anti-scales the Python boundary (measured
        # up to 40 s vs 8 s on a 580k-page parse at local[32]).  16 MB caps
        # the batch whatever the row width; narrow rows keep the 10k-row cap.
        "spark.sql.execution.arrow.maxBytesPerBatch": str(16 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # broadcast threshold generous: dims (robots, seeds, nation...) are tiny
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.filterPushdown": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # 32g: local-mode driver hosts all executor threads; 16g hit G1
        # GCLocker allocation-retry failures generating the 2M-URL bench
        # world (Arrow JNI critical regions + 32 allocating tasks).  Lazy
        # heap — only touched pages are resident, so small jobs stay small.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        # G1's GCLocker gives up after 2 allocation retries (JDK17
        # default) — with 32 tasks holding Arrow JNI critical regions the
        # unlucky allocator dies spuriously ("Retried waiting for GCLocker
        # too often") long before the heap is actually full.  Raise the
        # retry budget; on executor JVMs of a real cluster apply the same
        # flag via spark.executor.extraJavaOptions.
        "spark.driver.extraJavaOptions": (
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=128"
        ),
        # JVM↔Python-worker channel over Unix domain sockets (Spark 4.1+,
        # always executor-local traffic).  Loopback TCP hits
        # sk_stream_wait_memory stalls at high executor-core counts:
        # the crawl-parse stage measured 77 s at local[32] over TCP vs
        # 16 s over UDS, with kernel time dropping 16.7 → 2.5 cores
        # (BASELINE.md "Python-boundary scaling").
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": (
            "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
