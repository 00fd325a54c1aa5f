"""Driver sizing in hbsir_old_spark.session: the heap rule is a pure function
of the host's memory, so it is checked here without starting Spark (except
for the one test that reads the shared session's config)."""

import os

from hbsir_old_spark.session import driver_heap, host_memory

GIB = 2**30


def test_15_gib_host_gets_6g_pretouched():
    assert driver_heap(15 * GIB, 15 * GIB) == ("6g", "-Xms6g -XX:+AlwaysPreTouch")


def test_64_gib_host_is_capped_at_16g():
    assert driver_heap(64 * GIB, 64 * GIB) == ("16g", "-Xms16g -XX:+AlwaysPreTouch")


def test_2_gib_host_gets_the_1g_floor():
    heap, _ = driver_heap(2 * GIB, 2 * GIB)
    assert heap == "1g"


def test_limit_below_ram_sizes_from_the_limit():
    # a 4 GiB cgroup on a 64 GiB machine: 40% of the limit, not of RAM
    assert driver_heap(4 * GIB, 64 * GIB)[0] == "1g"
    assert driver_heap(10 * GIB, 64 * GIB)[0] == "4g"


def test_explicit_heap_above_half_of_ram_is_not_pretouched():
    assert driver_heap(15 * GIB, 15 * GIB, "12g") == ("12g", "-Xms12g")
    assert driver_heap(15 * GIB, 15 * GIB, "12288m") == ("12288m", "-Xms12288m")


def test_explicit_heap_keeps_the_fixed_flag_string():
    # HBSIR_SPARK_DRIVER_MEM=6g yields exactly the flags a fixed 6g heap
    # always had, whatever the host's limit
    for limit in (2 * GIB, 15 * GIB, 64 * GIB):
        assert driver_heap(limit, 15 * GIB, "6g") == ("6g", "-Xms6g -XX:+AlwaysPreTouch")


def test_host_memory_reads_positive_sizes():
    limit, total = host_memory()
    assert 0 < total and 0 < limit


def test_session_is_sized_from_the_host(spark):
    conf = spark.sparkContext.getConf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    assert spark.sparkContext.master == f"local[{cpus}]"
    if "HBSIR_SPARK_DRIVER_MEM" not in os.environ:
        heap = conf.get("spark.driver.memory")
        assert heap.endswith("g") and 1 <= int(heap[:-1]) <= 16
