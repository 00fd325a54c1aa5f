"""Driver sizing in hbsir_old_spark.session: the heap cap is a pure function
of the host's memory limit, so it is checked here without starting Spark
(except for the one test that reads the shared session's config)."""

import os

from hbsir_old_spark.session import driver_heap, host_memory

GIB = 2**30


def test_15_gib_host_gets_6g():
    assert driver_heap(15 * GIB) == "6g"


def test_64_gib_host_is_capped_at_16g():
    assert driver_heap(64 * GIB) == "16g"


def test_2_gib_host_gets_the_1g_floor():
    assert driver_heap(2 * GIB) == "1g"


def test_limit_below_ram_sizes_from_the_limit():
    # a cgroup limit on a 64 GiB machine: 40% of the limit, not of RAM
    assert driver_heap(4 * GIB) == "1g"
    assert driver_heap(10 * GIB) == "4g"


def test_host_memory_reads_positive_sizes():
    assert 0 < host_memory()


def test_session_is_sized_from_the_host(spark):
    conf = spark.sparkContext.getConf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    assert spark.sparkContext.master == f"local[{cpus}]"
    if "HBSIR_SPARK_DRIVER_MEM" not in os.environ:
        heap = conf.get("spark.driver.memory")
        assert heap.endswith("g") and 1 <= int(heap[:-1]) <= 16
    if "HBSIR_SPARK_DRIVER_JAVAOPTS" not in os.environ:
        # the heap grows on demand: no fixed initial size, no pre-touch
        opts = conf.get("spark.driver.extraJavaOptions", "")
        assert "-Xms" not in opts and "AlwaysPreTouch" not in opts
