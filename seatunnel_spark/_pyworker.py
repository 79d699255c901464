"""Every Python stage of the package is built here: mapInPandas
(`map_in_pandas`), grouped and cogrouped applyInPandas
(`apply_in_pandas`), applyInPandasWithState, pandas_udf
(`vectorized_udf`), udf (`python_udf`) and spark.udf.register
(`register_udf`).

Why one helper. PySpark's worker calls `importlib.invalidate_caches()`
at the start of every task (`pyspark/worker_util.py`,
`setup_spark_files`). Under Python 3.11 `zipimporter.invalidate_caches`
re-reads the archive's whole directory, and a worker that imported
`pyspark.sql` from `pyspark.zip` holds 14–16 zipimporters on that
1328-entry archive: 100–160 ms of CPU per task on a 4-core host,
before any user code runs. `python_stage` wraps each stage's function
in an object that a worker unpickles as the function itself, after
replacing (once per process) `zipimporter.invalidate_caches` with one
that keeps an archive's
directory while the archive's (st_mtime_ns, st_size, st_ino) is
unchanged. It calls the stock method when that key changed, when
`os.stat` fails, and the first time it meets an archive, so an archive
rewritten in place (a re-added py-file) is still re-read. `FileFinder`
is left alone. A fresh worker still pays the full re-read in its first
task, because `setup_spark_files` runs before any user code can install
the patch, and one read per archive in its second, to learn the key.

Shipped by value. The stage functions run in Python workers and call
their module's kernels. This module and every operator module that
calls `ship_by_value(__name__)` are pickled by value, so the patch
and the kernels run on a worker that cannot import seatunnel_spark;
the package need only be importable on the driver. No
`sitecustomize`, executor environment or PYTHONPATH entry is needed.

Same signature. On the driver PySpark reads the wrapper: the arity of
grouped and cogrouped functions with `inspect.getfullargspec`, which
does not follow `__wrapped__` but does read `__signature__`, and
pandas_udf type hints with `inspect.signature`/`get_type_hints`. The
wrapper carries the function's own signature, name and annotations, so
`(pdf)` and `(key, pdf)`, `(l, r)` and `(key, l, r)` and type-hint
inference resolve as they always did. A worker holds the bare
function, so its arity dispatch and its rows pay nothing per call.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport

from pyspark import cloudpickle

_MARK = "_seatunnel_stat_keyed"


def ship_by_value(module_name: str) -> None:
    """Pickle `module_name`'s functions by value when a Python stage
    references them, so a worker need not import the module."""
    cloudpickle.register_pickle_by_value(sys.modules[module_name])


ship_by_value(__name__)


def _ensure_zip_patch() -> None:
    """Replace zipimporter.invalidate_caches with the stat-keyed one,
    once per process. The flag is `_MARK` on the patched method, not a
    global of this module: a by-value copy of this module arrives with
    every task and carries the driver's value of its globals."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, _MARK, False):
        return
    seen: dict = {}  # archive -> ((mtime_ns, size, ino), directory)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        hit = seen.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        # stat before the read: a rewrite during the read changes the
        # key again, so the next call re-reads
        stock(self)
        if self.archive in zipimport._zip_directory_cache:  # read, not failed
            seen[self.archive] = (key, self._files)

    setattr(invalidate_caches, _MARK, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


class _Stage:
    """`fn` as the driver hands it to PySpark: same name, signature and
    annotations. A worker unpickles it as `fn` itself, installing the
    stat-keyed zip patch on the way, so no call pays for the helper."""

    def __init__(self, fn):
        functools.update_wrapper(self, fn)
        try:
            self.__signature__ = inspect.signature(fn, follow_wrapped=False)
        except ValueError:  # a builtin without one; only row UDFs take those
            pass

    def __call__(self, *args, **kwargs):
        return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        return _unpickle_stage, (self.__wrapped__,)


def _unpickle_stage(fn):
    _ensure_zip_patch()
    return fn


def python_stage(fn):
    """`fn` for a Python stage: unpickling it in a worker task installs
    the stat-keyed zip patch."""
    return _Stage(fn)


# --------------------------------------------------------------------------
# The Python-stage builders. Each is the PySpark call of the same name
# with its function passed through python_stage.
# --------------------------------------------------------------------------

def map_in_pandas(df, fn, schema):
    """df.mapInPandas(fn, schema)."""
    return df.mapInPandas(python_stage(fn), schema)


def apply_in_pandas(grouped, fn, schema):
    """grouped.applyInPandas(fn, schema) for a GroupedData (`(pdf)` or
    `(key, pdf)`) or a cogroup (`(l, r)` or `(key, l, r)`)."""
    return grouped.applyInPandas(python_stage(fn), schema)


def apply_in_pandas_with_state(grouped, fn, output_struct, state_struct,
                               output_mode, timeout_conf):
    """grouped.applyInPandasWithState(fn, ...)."""
    return grouped.applyInPandasWithState(python_stage(fn), output_struct,
                                          state_struct, output_mode,
                                          timeout_conf)


def vectorized_udf(return_type):
    """Decorator: F.pandas_udf(fn, return_type)."""
    from pyspark.sql import functions as F

    def build(fn):
        return F.pandas_udf(python_stage(fn), return_type)

    return build


def python_udf(fn, return_type):
    """F.udf(fn, return_type)."""
    from pyspark.sql import functions as F

    return F.udf(python_stage(fn), return_type)


def register_udf(spark, name: str, fn, return_type):
    """spark.udf.register(name, fn, return_type)."""
    return spark.udf.register(name, python_stage(fn), return_type)
