import contextlib
import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from seatunnel_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The reference SeaTunnel tree (read-only), at the fixed path the other
# test modules use. Tests that run its confs or read its resources
# skip, naming the missing path, where it is absent.
REFERENCE_ROOT = "/root/reference"
_NO_REFERENCE = f"reference tree {REFERENCE_ROOT} is absent"

requires_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_ROOT), reason=_NO_REFERENCE)


def reference_path(*parts: str) -> str:
    """A path inside the reference tree."""
    return os.path.join(REFERENCE_ROOT, *parts)


def reference_params(values: list, path=lambda v: v) -> list:
    """Parametrize values over reference files: those whose
    `path(value)` exists. Where the tree is absent, one param marked
    skip that names it, so collection cannot fail on an empty set."""
    if not os.path.isdir(REFERENCE_ROOT):
        width = len(values[0]) if values and isinstance(values[0],
                                                        tuple) else 1
        return [pytest.param(*([None] * width), id="no-reference",
                             marks=pytest.mark.skip(reason=_NO_REFERENCE))]
    return [v for v in values if os.path.exists(path(v))]


def reference_glob(pattern: str) -> list[str]:
    """The files matching `pattern` (recursive glob, relative to the
    reference tree). Skips the calling test, naming the tree, where it
    is absent; where it is present, no match is a failure."""
    if not os.path.isdir(REFERENCE_ROOT):
        pytest.skip(_NO_REFERENCE)
    hits = glob.glob(reference_path(pattern), recursive=True)
    assert hits, pattern
    return hits


@contextlib.contextmanager
def no_auto_broadcast(spark):
    """Turn automatic broadcast joins off for the block, then restore
    the threshold read before it — the session's own, host-derived
    value (session.host_defaults), not a fixed one."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, before)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("seatunnel-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
