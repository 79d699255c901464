"""Host-derived session defaults (seatunnel_spark.session).

`host_defaults` is table-tested without Spark; the live test session
is checked for the derived shuffle-partition count, for an
`extra_conf` value winning over it, and for a generated-code cache
that outlasts a rerun of more than Spark's default 100 classes."""

import os

import pytest

from seatunnel_spark.session import _mem_bytes, get_spark, host_defaults

MB = 1024 * 1024
# /proc/meminfo of a 15.7 GB host
MEMINFO_16G = "MemTotal:       16479424 kB\nMemFree:        14000000 kB\n"
MEMINFO_64G = "MemTotal:       65536000 kB\n"


@pytest.mark.parametrize("cpus, meminfo, driver_mem, want", [
    # 2 x the cores; half of MemTotal (8046 MiB); broadcast capped at 64 MB
    ("4", MEMINFO_16G, None, ("8", "8046m", 64 * MB)),
    ("1", MEMINFO_16G, None, ("2", "8046m", 64 * MB)),
    # the heap is capped at 16g
    ("4", MEMINFO_64G, None, ("8", "16384m", 64 * MB)),
    # unreadable or unparseable meminfo falls back to 16g
    ("4", None, None, ("8", "16384m", 64 * MB)),
    ("4", "garbage", None, ("8", "16384m", 64 * MB)),
    # an explicit heap wins, and the broadcast cap follows it: heap / 64
    ("4", MEMINFO_16G, "1g", ("8", "1g", 16 * MB)),
    ("4", MEMINFO_16G, "2048m", ("8", "2048m", 32 * MB)),
    ("4", MEMINFO_16G, "4g", ("8", "4g", 64 * MB)),
    ("4", MEMINFO_16G, "32g", ("8", "32g", 64 * MB)),
    ("4", "MemTotal: 1048576 kB\n", None, ("8", "512m", 8 * MB)),
])
def test_host_defaults_table(cpus, meminfo, driver_mem, want):
    got = host_defaults(cpus, meminfo, driver_mem)
    assert (got["spark.sql.shuffle.partitions"], got["spark.driver.memory"],
            int(got["spark.sql.autoBroadcastJoinThreshold"])) == want


def test_host_defaults_star_uses_all_cores():
    got = host_defaults("*", MEMINFO_16G)
    assert got["spark.sql.shuffle.partitions"] == str(2 * os.cpu_count())


@pytest.mark.parametrize("size, want", [
    ("1g", 1024 * MB), ("512m", 512 * MB), ("2048", 2048 * MB),
    ("64k", 64 * 1024), ("2G", 2048 * MB), ("1gb", 1024 * MB),
])
def test_mem_bytes(size, want):
    assert _mem_bytes(size) == want


def test_mem_bytes_rejects_garbage():
    with pytest.raises(ValueError):
        _mem_bytes("lots")


def test_live_session_shuffle_partitions_follow_cores(spark):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == \
        2 * spark.sparkContext.defaultParallelism


def test_extra_conf_overrides_derived_partitions(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        s = get_spark("seatunnel-spark-tests", {key: "3"})
        assert s.conf.get(key) == "3"
    finally:
        spark.conf.set(key, before)


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_outlasts_a_rerun_of_many_queries(spark):
    """A rerun of more queries than Spark's default cache (100 classes)
    holds reuses every generated class instead of recompiling it."""
    from pyspark.sql import functions as F

    def run_all():
        for i in range(120):  # each literal makes its own class
            spark.range(3).select((F.col("id") * i + i).alias("x")).collect()

    before = _janino_compiles(spark)
    run_all()
    first = _janino_compiles(spark) - before
    run_all()
    assert first > 100
    assert _janino_compiles(spark) - before == first
