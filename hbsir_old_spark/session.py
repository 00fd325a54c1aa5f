"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config keys are what we'd set on a real
cluster (AQE on, shuffle partitions sized to the environment, Arrow on for the
few Pandas-UDF paths). On a 1000-executor cluster only the master/shuffle
sizing changes — operator code is identical.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def ensure_min_partitions(df, minimum: int | None = None):
    """Repartition a DataFrame whose scan produced too few partitions for
    the cluster (e.g. one small parquet file) so expensive per-row
    expressions actually parallelize. No-op for already-parallel inputs —
    at real scale the scan yields thousands of splits and this never fires.

    Contract note: parallelism is *estimated* from ``inputFiles()`` (probing
    ``.rdd`` would force a full pre-AQE physical compile per call). This is a
    heuristic, not a guarantee — a plan that explicitly narrows itself after
    a many-file scan (``coalesce(1)``, ``repartition(1)``) reports many leaf
    files and is left untouched. That is deliberate: an explicit user
    coalesce is a statement of intent this helper should not fight, and the
    engine's own call sites pass freshly-scanned or freshly-created frames.
    Callers who narrow a plan and then want it widened should call
    ``df.repartition(n)`` themselves.
    """
    spark = df.sparkSession
    if minimum is None:
        minimum = spark.sparkContext.defaultParallelism
    # Estimate scan parallelism from the leaf files instead of probing
    # `df.rdd.getNumPartitions()`: touching `.rdd` forces a full physical
    # compile (pre-AQE) of the plan on every call, which is pure planning
    # overhead on wide plans. `inputFiles()` only walks the analyzed logical
    # plan. Splittable formats can yield more partitions than files, so this
    # undercounts for huge files — erring toward a repartition that AQE's
    # coalescing absorbs; at real scale the scan has thousands of files and
    # this never fires. A DataFrame with NO leaf files (createDataFrame,
    # memory sources) falls back to the actual-partition probe — those plans
    # are small local constructions where the compile is cheap, and skipping
    # them entirely would leave exactly the 1-2-partition inputs this
    # function exists to widen.
    if df.isStreaming:
        # streaming plans have no .rdd and no input files; micro-batch
        # parallelism is the source's concern — leave untouched
        return df
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files == 0:
        try:
            if df.rdd.getNumPartitions() < minimum:
                return df.repartition(minimum)
        except Exception:  # exotic sources with no RDD view — leave as-is
            pass
        return df
    if n_files < minimum:
        return df.repartition(minimum)
    return df


def host_memory() -> int:
    """The memory limit in bytes: the cgroup v2 ``memory.max`` when it is
    set and finite, else ``MemAvailable``."""
    info = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            info[key] = int(val.split()[0]) * 1024
    limit = info["MemAvailable"]
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            limit = int(raw)
    except (OSError, ValueError):
        pass
    return limit


def driver_heap(limit: int) -> str:
    """The driver heap cap (``spark.driver.memory``, i.e. ``-Xmx``) for a
    host with a memory limit of ``limit`` bytes: 40% of it in whole GiB,
    between 1g and 16g."""
    return f"{min(16, max(1, limit * 2 // 5 // 2**30))}g"


def get_spark(app_name: str = "hbsir_old_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE handles runtime coalescing and skew joins; shuffle partitions default
    to the local core count (not Spark's 200) so small-SF local runs don't
    drown in empty tasks. On a real cluster, set ``HBSIR_SPARK_SHUFFLE`` to
    ~2-3x total cores. The core count defaults to the CPUs this process may
    run on (``SPARK_GRAFT_CPUS`` overrides it). The driver heap cap defaults
    to :func:`driver_heap` of :func:`host_memory` (``HBSIR_SPARK_DRIVER_MEM``
    overrides it); no driver JVM flags are set unless
    ``HBSIR_SPARK_DRIVER_JAVAOPTS`` gives them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("HBSIR_SPARK_SHUFFLE", cpus))
    # glibc malloc tuning for the executor JVM (must be in the environment
    # BEFORE the JVM child process launches; harmless no-op afterwards).
    # Root-caused empirically (round 8): Tungsten task memory is acquired
    # via Unsafe/malloc in multi-MB chunks, and glibc serves chunks above
    # its mmap threshold (dynamic, capped at 32 MiB) with mmap/munmap PER
    # ALLOCATION. 32 task threads allocating and freeing such chunks every
    # task turned into cross-core TLB-shootdown storms — kernel time, not
    # user time: x3's repeats measured 17-114 s wall with ~75% of all 32
    # cores in sys (/proc/stat), adjacent runs 3 s with sys ~1%. Raising
    # the thresholds keeps those chunks inside malloc arenas (reused, no
    # unmap, no shootdown): worst-case repeat dropped 114 s -> ~8 s, and
    # steady-state sys fell 40x. A 256 MiB threshold only defers munmap
    # for allocations a 48 GiB-heap process can absorb; RSS stays bounded
    # by the arenas' high-water mark, which Spark's page accounting caps.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    # The heap starts at the JVM default and grows on demand up to the cap;
    # HBSIR_SPARK_DRIVER_MEM overrides the cap.
    driver_mem = os.environ.get("HBSIR_SPARK_DRIVER_MEM") or driver_heap(host_memory())
    driver_javaopts = os.environ.get("HBSIR_SPARK_DRIVER_JAVAOPTS")
    if SparkSession.getActiveSession() is None:
        log.info("driver heap cap %s, %s cores", driver_mem, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # reap dropped localCheckpoint/broadcast blocks on a 5 min cadence
        # instead of the 30 min default: ContextCleaner only frees them
        # after a driver GC processes the weak refs, and iterative
        # checkpoint-heavy operators (CC, LSH) otherwise accumulate dead
        # blocks across a long bench/ingest loop
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("HBSIR_SPARK_PERIODIC_GC", "5min"),
        )
        # read shuffle/cache blocks with regular IO instead of mmap below
        # 128 MiB: same storm family as the malloc note above — kernel
        # stack samples during slow windows show exc_page_fault + munmap
        # churn, and every munmap of a mapped block costs a cross-core TLB
        # shootdown on a 32-thread executor. Local-mode blocks are far
        # smaller than 128 MiB, so this disables mmap rotation entirely.
        .config("spark.storage.memoryMapThreshold", "128m")
        .config("spark.ui.enabled", "false")
    )
    if driver_javaopts is not None:
        builder = builder.config("spark.driver.extraJavaOptions", driver_javaopts)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
