"""Scoped cache lifetimes for dataops operators.

Several operators persist() an intermediate that is consumed multiple
times INSIDE one logical query (pagerank's deduped edges, LSH bucket
tables, the PPJoin prefix index). The cache benefit is real and local
to the query — but a plain persist() outlives the returned DataFrame,
so a long-lived session (notebook, service, bench harness) that calls
operators repeatedly accumulates entries in Spark's CacheManager until
eviction churn hurts innocent neighbors.

`cache_scope()` makes the lifetime explicit and enforceable: every
persist an operator takes inside the scope is unpersisted on exit —
exactly those, never a caller's own cached frames (the blunt
spark.catalog.clearCache() alternative wipes everything). Without an
active scope, `scoped_persist` degrades to a plain persist(), so
one-shot jobs keep today's behavior.

    from seatunnel_spark.dataops import cache_scope

    with cache_scope():
        result = pagerank(edges, iters=3).collect()
    # pagerank's persisted edge frame is unpersisted here

Scopes nest (an inner scope releases only its own frames) and are
tracked per-thread, so concurrent driver threads sharing one
SparkSession don't release each other's caches. Unpersist is lazy
(blocking=False): block eviction proceeds asynchronously and never
stalls the exiting scope.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_LOCAL = threading.local()


def _stack() -> list[list[DataFrame]]:
    if not hasattr(_LOCAL, "scopes"):
        _LOCAL.scopes = []
    return _LOCAL.scopes


def scoped_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() that registers the frame with the innermost active
    cache_scope (if any) for release on scope exit. All dataops
    operators route their persists through here."""
    out = df.persist() if storage_level is None else df.persist(storage_level)
    scopes = _stack()
    if scopes:
        scopes[-1].append(out)
    return out


@contextlib.contextmanager
def cache_scope():
    """Bound the lifetime of every operator-internal persist taken
    inside the with-block; see module docstring."""
    frames: list[DataFrame] = []
    _stack().append(frames)
    try:
        yield
    finally:
        _stack().pop()
        for df in frames:
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped / frame already freed


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan parallelism, the ONE shared implementation
    (dedup and __spark_entry__ call it directly; similarity._spread
    delegates here, so no copy can drift): round-robin repartition to
    defaultParallelism ONLY when the planned input has fewer than half
    that many partitions. A no-op at scale — a properly-split corpus
    scan already has plenty of partitions and never pays the shuffle.

    Note the partition probe goes through df.rdd (a driver-side
    plan-to-RDD conversion; unsupported under Spark Connect) — the
    price of asking the PLANNED partition count before execution."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def qcol(name: str) -> str:
    """Backtick-quote a CALLER-SUPPLIED column name for interpolation
    into F.expr SQL (ADVICE r11): hyphens, spaces or reserved words
    would otherwise parse as expressions ('a-b' becomes subtraction).
    Internal composed expressions (slices, casts, __-prefixed
    aliases) are never passed through this."""
    return "`" + name.replace("`", "``") + "`"
