"""SparkSession factory tuned for the engine.

Every session `get_spark` builds runs at ``local[$SPARK_GRAFT_CPUS]``
(``*`` = all cores), and three defaults are derived from that host
instead of being fixed (see `host_defaults`):

* ``spark.sql.shuffle.partitions`` is 2 × the cores. A fixed 32 ran
  the iterative dataops loops at several times the tasks their data
  needs on a 4-core host, and AQE does not win that back: the loops
  persist their edge frames, a cached plan keeps the partitioning it
  was built with (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
  is false), and every per-round join scans all of its partitions.
  q_bfs_hops' edge frame is the union of both orientations of a
  shuffled distinct, so at 32 each hop's frontier join ran 64 tasks
  (a warm q_bfs_hops: 220 tasks at 32 partitions, 52 at 4). Twice the
  cores, not once, halves each partition at large inputs and leaves
  AQE room to split a skewed one.
* ``spark.driver.memory`` is half of the host's RAM, at most 16g.
* ``spark.sql.autoBroadcastJoinThreshold`` is 64 MB, but at most 1/64
  of the driver heap: a small heap cannot hold a 64 MB table once it
  is decoded into a broadcast hash relation.

An explicit ``extra_conf`` value wins over every derived one, and
``$SPARK_GRAFT_DRIVER_MEM`` sets the heap (the broadcast cap follows
it). The other knobs are the ones you would set on a large cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow for the Pandas-UDF code paths.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive execution: re-plans shuffles at runtime, splits skewed
    # partitions, coalesces tiny ones — essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow makes pandas_udf / mapInPandas paths vectorized.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Accept co-partitioning on a SUBSET of the join keys: a table
    # bucketed by k1 then joined on (k1, k2) keeps its bucketed scan
    # exchange-free (only the other side shuffles, on k1) — the
    # write-once/probe-many contract of write_bucketed_edges and
    # triangles_on_bucketed. Semantics are unchanged; the default
    # (true) merely refuses the optimization.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    # Read-side partition sizing: 128 MB splits keep executor memory bounded.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Zeta's TIME type (SqlType.TIME) maps to Spark 4.1's TIME, which
    # is still behind a flag; CAST(x AS TIME) / to_time need it.
    "spark.sql.timeType.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (e.g. pandas-written ts[ns]) is otherwise
    # unreadable (PARQUET_TYPE_ILLEGAL); read as long, convert at source.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Generated-code cache (default 100 classes). sim_topk,
    # sim_hard_negatives_ivf and q_bfs_hops alone generate 95 distinct
    # classes, so rerunning the three evicted and recompiled 44 of them
    # with Janino every round, and the JIT then recompiled the reloaded
    # classes while the next op ran. At 1000, none is recompiled after
    # the first round. Static: read when the JVM's first session starts.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

_MB = 1024 * 1024
_MAX_HEAP = 16 * 1024 * _MB
_MAX_BROADCAST = 64 * _MB
_UNITS = {"k": 1024, "m": _MB, "g": 1024 * _MB, "t": 1024 * 1024 * _MB}


def _mem_bytes(size: str) -> int:
    """Bytes in a JVM memory string ("1g", "512m", "2048"); a bare
    number is MiB, as Spark reads spark.driver.memory."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", size.lower())
    if not m:
        raise ValueError(f"not a memory size: {size!r}")
    return int(m.group(1)) * _UNITS.get(m.group(2) or "m")


def host_defaults(cpus: str, meminfo: str | None,
                  driver_mem: str | None = None) -> dict[str, str]:
    """The host-derived session defaults, as a pure function.

    `cpus` is the ``local[...]`` core count ("*" = ``os.cpu_count()``);
    `meminfo` is the text of /proc/meminfo, or None when it cannot be
    read; `driver_mem` is an explicitly chosen heap, which wins over
    the one derived from MemTotal."""
    cores = (os.cpu_count() or 1) if cpus.strip() == "*" else int(cpus)
    if driver_mem is None:
        total = re.search(r"^MemTotal:\s*(\d+)\s*kB", meminfo or "", re.M)
        heap = min(int(total.group(1)) * 1024 // 2, _MAX_HEAP) \
            if total else _MAX_HEAP
        driver_mem = f"{heap // _MB}m"
    return {
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.driver.memory": driver_mem,
        "spark.sql.autoBroadcastJoinThreshold":
            str(min(_MAX_BROADCAST, _mem_bytes(driver_mem) // 64)),
    }


def _meminfo() -> str | None:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return None


def get_spark(app_name: str = "seatunnel-spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or get) the session at local[$SPARK_GRAFT_CPUS], with the
    host-derived defaults of `host_defaults` under `extra_conf`."""
    extra_conf = extra_conf or {}
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    driver_mem = (extra_conf.get("spark.driver.memory")
                  or os.environ.get("SPARK_GRAFT_DRIVER_MEM"))
    conf = {**_DEFAULTS, **host_defaults(cpus, _meminfo(), driver_mem),
            **extra_conf}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
