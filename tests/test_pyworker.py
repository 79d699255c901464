"""The Python-stage helper (`seatunnel_spark/_pyworker.py`).

* Portability: one query per Python-worker module runs from a
  directory outside the checkout with no PYTHONPATH — the package is
  importable on the driver only — and returns the rows it returns here.
* Patch semantics, each in its own interpreter so the patch never leaks
  into this one: a rewritten archive is re-read, an unchanged one is
  not, FileFinder keeps its stock method, wrapped stages return the
  raw stages' rows, and reused workers re-read pyspark.zip at most
  once each.
* Guard: every Python stage under seatunnel_spark/ is built through the
  helper, and only the helper registers modules with cloudpickle.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import tokenize

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from selfcheck import table_digest  # noqa: E402

# one query per module whose operators run in Python workers
PORTABLE_QUERIES = {
    "dedup": "dedup_simhash_pairs",
    "embeddings": "emb_covariance",
    "text": "text_normalize",
    "decontam": "decontam_bloom",
    "multimodal": "mm_png_features",
    "similarity": "sim_topk",
}


def _run(script: str, cwd, cpus: int = 2, timeout: int = 600):
    """Run `script` in a fresh interpreter from `cwd` with no PYTHONPATH;
    return its last stdout line parsed as JSON."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM="1g")
    path = os.path.join(cwd, "script.py")
    with open(path, "w") as f:
        f.write(textwrap.dedent(script))
    proc = subprocess.run([sys.executable, path], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=timeout)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    return json.loads(lines[-1])


_PORTABLE = """
import json, sys
sys.path.insert(0, {root!r})
sys.path.insert(0, {tools!r})
import __spark_entry__ as entry
from selfcheck import table_digest
from seatunnel_spark.session import get_spark

spark = get_spark("portable-queries")


def probe(batches):
    import importlib.util

    import pandas as pd
    for _ in batches:
        pass
    found = importlib.util.find_spec("seatunnel_spark") is not None
    yield pd.DataFrame({{"found": [found]}})


out = {{"worker_imports_package":
        spark.range(1).mapInPandas(probe, "found boolean").first()[0]}}
for name in {queries!r}:
    df = entry.queries()[name](spark, {sf_dir!r})
    out[name] = table_digest(df.columns, [tuple(r) for r in df.collect()])
spark.stop()
print(json.dumps(out))
"""


def test_python_worker_queries_run_without_package_on_worker_path(
        spark, sf_dir, tmp_path):
    import __spark_entry__ as entry

    queries = list(PORTABLE_QUERIES.values())
    cpus = spark.sparkContext.defaultParallelism
    got = _run(_PORTABLE.format(root=ROOT, tools=os.path.join(ROOT, "tools"),
                                queries=queries, sf_dir=sf_dir),
               tmp_path, cpus=cpus)
    assert got.pop("worker_imports_package") is False
    want = {}
    for name in queries:
        df = entry.queries()[name](spark, sf_dir)
        want[name] = table_digest(df.columns,
                                  [tuple(r) for r in df.collect()])
    assert got == want


_ZIP_SEMANTICS = """
import importlib, json, os, pickle, sys, zipfile, zipimport
from importlib.machinery import FileFinder
sys.path.insert(0, {root!r})
from pyspark import cloudpickle

stock_filefinder = FileFinder.invalidate_caches
from seatunnel_spark import _pyworker

archive = os.path.join(os.getcwd(), "mods.zip")


def write(name, body):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(name + ".py", body)


write("mod_a", "X = 1\\n")
sys.path.insert(0, archive)
import mod_a

reads = []
stock_read = zipimport._read_directory


def counting_read(path):
    reads.append(path)
    return stock_read(path)


zipimport._read_directory = counting_read
out = {{"patched_before": getattr(zipimport.zipimporter.invalidate_caches,
                                 "_seatunnel_stat_keyed", False)}}
# a worker unpickling a stage installs the patch and gets the bare function
out["unpickled_bare"] = pickle.loads(
    cloudpickle.dumps(_pyworker.python_stage(len))) is len
importlib.invalidate_caches()  # first sight of each archive: stock read
out["first"] = reads.count(archive)
del reads[:]
importlib.invalidate_caches()
out["unchanged"] = reads.count(archive)
st = os.stat(archive)
with open(archive, "r+b") as f:  # in place: the inode stays
    write("mod_b", "Y = 2\\n")
assert os.stat(archive).st_ino == st.st_ino
importlib.invalidate_caches()
out["rewritten"] = reads.count(archive)
import mod_b
out["new_module"] = mod_b.Y
out["filefinder_stock"] = FileFinder.invalidate_caches is stock_filefinder
out["patched"] = getattr(zipimport.zipimporter.invalidate_caches,
                         "_seatunnel_stat_keyed", False)
os.remove(archive)
importlib.invalidate_caches()  # os.stat fails: the stock method runs
out["removed_ok"] = True
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def zip_semantics(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("zip_semantics")
    return _run(_ZIP_SEMANTICS.format(root=ROOT), cwd)


def test_rewritten_archive_is_read_again(zip_semantics):
    assert zip_semantics["rewritten"] >= 1
    assert zip_semantics["new_module"] == 2
    assert zip_semantics["removed_ok"]


def test_unchanged_archive_is_not_read_again(zip_semantics):
    assert not zip_semantics["patched_before"]
    assert zip_semantics["patched"]
    assert zip_semantics["first"] == 1
    assert zip_semantics["unchanged"] == 0


def test_filefinder_keeps_its_stock_method(zip_semantics):
    assert zip_semantics["filefinder_stock"]


def test_worker_unpickles_the_bare_function(zip_semantics):
    assert zip_semantics["unpickled_bare"]


_STAGES = """
import json, os, sys
from typing import Iterator
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql import functions as F
from seatunnel_spark import _pyworker as pw
from seatunnel_spark.session import get_spark

spark = get_spark("pyworker-stages")
df = spark.createDataFrame([(i % 3, i, float(i)) for i in range(30)],
                           "k long, i long, v double").repartition(4)
other = spark.createDataFrame([(i % 3, 10 * i) for i in range(9)],
                              "k long, w long")


def rows(d):
    return sorted(tuple(r) for r in d.collect())


def one(pdf):
    return pd.DataFrame({{"k": [pdf.k.iloc[0]], "n": [len(pdf)]}})


def two(key, pdf):
    return pd.DataFrame({{"k": [key[0]], "n": [int(pdf.i.sum())]}})


def co_two(left, right):
    return pd.DataFrame({{"k": [left.k.iloc[0]],
                         "n": [len(left) * 100 + len(right)]}})


def co_three(key, left, right):
    return pd.DataFrame({{"k": [key[0]], "n": [int(right.w.sum())]}})


def plus(s: pd.Series) -> pd.Series:
    return s + 1


def plus_iter(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in it:
        yield s * 2


def reads_so_far(batches):
    # count, per worker process, directory reads of pyspark.zip from
    # the first call on; every later task's setup is counted
    import os
    import zipimport

    import pandas as pd
    if not hasattr(zipimport, "_test_reads"):
        zipimport._test_reads = []
        stock = zipimport._read_directory

        def counting(path):
            zipimport._test_reads.append(path)
            return stock(path)

        zipimport._read_directory = counting
    for _ in batches:
        pass
    n = sum(p.endswith("pyspark.zip") for p in zipimport._test_reads)
    yield pd.DataFrame({{"pid": [os.getpid()], "reads": [n]}})


def per_worker(rs):
    # reads of pyspark.zip per worker while it ran this stage's tasks
    by = {{}}
    for r in rs:
        by.setdefault(r.pid, []).append(r.reads)
    return {{str(p): max(v) - min(v) for p, v in by.items()}}


many = spark.range(0, 24, 1, 24)
schema = "pid long, reads long"
# first, before any wrapped stage has run in these workers
out = {{"raw_reads": per_worker(many.mapInPandas(reads_so_far,
                                                schema).collect())}}

g = df.groupBy("k")
cg = df.groupBy("k").cogroup(other.groupBy("k"))
schema = "k long, n long"
for name, fn, grouped in (("grouped_1", one, g), ("grouped_2", two, g),
                          ("cogroup_2", co_two, cg),
                          ("cogroup_3", co_three, cg)):
    raw = rows(grouped.applyInPandas(fn, schema))
    out[name] = [raw == rows(pw.apply_in_pandas(grouped, fn, schema)),
                 len(raw)]
for name, fn in (("pandas_udf", plus), ("pandas_udf_iter", plus_iter)):
    raw = rows(df.select(F.pandas_udf(fn, "long")("i")))
    wrapped = rows(df.select(pw.vectorized_udf("long")(fn)("i")))
    out[name] = [raw == wrapped, len(raw)]
out["iter_eval_type"] = pw.vectorized_udf("long")(plus_iter).evalType
raw = rows(df.select(F.udf(lambda i: i * 3, "long")("i")))
out["python_udf"] = [
    raw == rows(df.select(pw.python_udf(lambda i: i * 3, "long")("i"))),
    len(raw)]
out["wrapped_reads"] = per_worker(
    pw.map_in_pandas(many, reads_so_far, "pid long, reads long").collect())
spark.stop()
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def stages(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("stages")
    return _run(_STAGES.format(root=ROOT), cwd)


@pytest.mark.parametrize("shape", ["grouped_1", "grouped_2", "cogroup_2",
                                   "cogroup_3", "pandas_udf",
                                   "pandas_udf_iter", "python_udf"])
def test_wrapped_stage_returns_the_raw_stages_rows(stages, shape):
    same, n = stages[shape]
    assert same and n > 0


def test_wrapped_pandas_udf_keeps_type_hint_inference(stages):
    from pyspark.util import PythonEvalType

    assert stages["iter_eval_type"] == PythonEvalType.SQL_SCALAR_PANDAS_ITER_UDF


def test_reused_workers_read_pyspark_zip_at_most_once(stages):
    # without the patch every task re-reads the archive, once per
    # zipimporter on it; with it, a worker reads it once at most
    assert any(n > 10 for n in stages["raw_reads"].values()), stages
    assert stages["wrapped_reads"], stages
    assert all(n <= 1 for n in stages["wrapped_reads"].values()), stages


# ---------------------------------------------------------------------------
# Guard: no Python stage bypasses the helper.
# ---------------------------------------------------------------------------

HELPER = os.path.join("seatunnel_spark", "_pyworker.py")
_STAGE_CALLS = ("mapInPandas", "applyInPandas", "applyInPandasWithState",
                "mapInArrow", "applyInArrow")


def _code_tokens(path: str) -> list[tokenize.TokenInfo]:
    """Tokens of `path` other than comments, strings and layout."""
    with open(path, "rb") as f:
        toks = list(tokenize.tokenize(f.readline))
    return [t for t in toks if t.type in (tokenize.NAME, tokenize.OP)]


def stage_bypasses(path: str) -> list[str]:
    """Python stages built in `path` without the helper: a call of
    mapInPandas/applyInPandas (and their Arrow and state forms), udf(,
    .udf.register( or any use of pandas_udf/arrow_udf, as 'line: text'."""
    toks = _code_tokens(path)
    found = []
    for i, t in enumerate(toks):
        nxt = [x.string for x in toks[i + 1:i + 4]]
        if ((t.string in _STAGE_CALLS and nxt[:1] == ["("])
                or t.string in ("pandas_udf", "arrow_udf")
                or t.string == "udf" and (nxt[:1] == ["("]
                                          or nxt == [".", "register", "("])):
            found.append(f"{t.start[0]}: {t.line.strip()}")
    return found


def _package_files():
    for d, _, fs in os.walk(os.path.join(ROOT, "seatunnel_spark")):
        for f in sorted(fs):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def test_every_python_stage_goes_through_the_helper():
    bad = {}
    for path in _package_files():
        rel = os.path.relpath(path, ROOT)
        if rel == HELPER:
            continue
        hits = stage_bypasses(path)
        if hits:
            bad[rel] = hits
    assert not bad, bad


def test_only_the_helper_registers_pickle_by_value():
    paths = list(_package_files()) + [os.path.join(ROOT, "__spark_entry__.py")]
    bad = [os.path.relpath(p, ROOT) for p in paths
           if os.path.relpath(p, ROOT) != HELPER
           and any(t.string == "register_pickle_by_value"
                   for t in _code_tokens(p))]
    assert not bad


def test_guard_sees_a_raw_site(tmp_path):
    src = tmp_path / "raw.py"
    src.write_text(textwrap.dedent('''
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from seatunnel_spark._pyworker import map_in_pandas, vectorized_udf
        # df.mapInPandas(f, s) in a comment is not a site
        """nor df.applyInPandas(f, s) in a docstring"""

        def register_zeta_udf(x, udf):
            return udf

        def build(df, f, spark):
            a = df.mapInPandas(f, "x long")
            b = df.groupBy("k").applyInPandas(f, "x long")
            c = F.udf(f, "long")
            spark.udf.register("n", f, "long")
            return map_in_pandas(df, f, "x long"), vectorized_udf("long")(f)
    '''))
    hits = [h.split(":")[0] for h in stage_bypasses(str(src))]
    assert hits == ["3", "12", "13", "14", "15"], stage_bypasses(str(src))
