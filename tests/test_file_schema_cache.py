"""File source reads: the parquet/orc schema cache of
`sources.file.read_files`, the one directory walk per read, a csv
source without a declared schema, and `tools/selfcheck.py` importing
its own checkout."""

import os
import random
import shutil
import subprocess
import sys
import threading
import uuid
from collections import OrderedDict
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from seatunnel_spark.job.engine import run_job
from seatunnel_spark.sinks.memory import InMemorySink
from seatunnel_spark.sources import file as file_mod
from seatunnel_spark.sources.file import FileSource, read_files

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Jobs:
    """Counts the Spark jobs run inside a `with` block (its own job
    group)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"schema-cache-{uuid.uuid4().hex[:8]}"
        self.n = None

    def __enter__(self):
        self.sc.setJobGroup(self.group, "schema cache")
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        self.n = len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _source(path, **opts) -> FileSource:
    return FileSource({"path": path, "file_format_type": "parquet", **opts})


def test_second_read_of_unchanged_files_runs_no_inference_job(spark,
                                                              tmp_path):
    path = str(tmp_path / "t")
    spark.range(30).selectExpr("id", "id * 2 AS v").write.parquet(path)
    with _Jobs(spark) as first:
        a = _source(path).read(spark)
    with _Jobs(spark) as second:
        b = _source(path).read(spark)
    assert first.n >= 1  # the parquet footer job
    assert second.n == 0
    assert b.schema == a.schema
    assert _rows(b) == _rows(a)


def test_file_rewritten_in_place_reads_new_schema(spark, tmp_path):
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert read_files(spark, "parquet", path).columns == ["a"]
    ino = os.stat(path).st_ino
    pq.write_table(pa.table({"b": ["x", "y"], "c": [1.0, 2.0]}), path)
    assert os.stat(path).st_ino == ino  # the same file, truncated
    df = read_files(spark, "parquet", path)
    assert df.columns == ["b", "c"]
    assert _rows(df) == [("x", 1.0), ("y", 2.0)]


def test_added_file_reads_new_schema(spark, tmp_path):
    d = tmp_path / "d"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "part-0.parquet"))
    opts = {"mergeSchema": "true"}
    assert read_files(spark, "parquet", str(d), opts).columns == ["a"]
    pq.write_table(pa.table({"a": [3], "z": ["new"]}),
                   str(d / "part-1.parquet"))
    df = read_files(spark, "parquet", str(d), opts)
    assert df.columns == ["a", "z"]
    assert _rows(df) == [(1, None), (2, None), (3, "new")]


def test_conf_change_reads_new_schema(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}),
                   path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(read_files(spark, "parquet", path).dtypes) == \
            {"b": "binary"}
        spark.conf.set(key, "true")
        df = read_files(spark, "parquet", path)
        assert dict(df.dtypes) == {"b": "string"}
        assert _rows(df) == [("ab",), ("cd",)]
    finally:
        spark.conf.set(key, old)


def _partition_schema(df) -> str:
    leaf = df._jdf.queryExecution().analyzed().collectLeaves().head()
    return leaf.relation().partitionSchema().json()


def test_partitioned_directory_matches_inferred_schema(spark, tmp_path):
    path = str(tmp_path / "parts")
    (spark.range(40).selectExpr("id", "CAST(id AS STRING) AS s",
                                "id % 3 AS p", "id % 2 = 0 AS q")
     .write.partitionBy("p", "q").parquet(path))
    inferred = spark.read.parquet(path)
    read_files(spark, "parquet", path)
    with _Jobs(spark) as jobs:
        hit = read_files(spark, "parquet", path)
    assert jobs.n == 0
    assert hit.schema == inferred.schema  # names, types and nullability
    assert [f.nullable for f in hit.schema] == \
        [f.nullable for f in inferred.schema]
    assert _partition_schema(hit) == _partition_schema(inferred)
    assert "p" in _partition_schema(hit) and "q" in _partition_schema(hit)
    assert _rows(hit) == _rows(inferred)
    assert _rows(hit.filter("p = 1")) == _rows(inferred.filter("p = 1"))


def test_orc_is_cached_and_sees_rewrites(spark, tmp_path):
    path = str(tmp_path / "o")
    spark.range(12).selectExpr("id", "id * 1.5 AS x").write.orc(path)
    src = FileSource({"path": path, "file_format_type": "orc"})
    first = src.read(spark)
    size = len(file_mod._schema_cache)
    again = src.read(spark)
    assert len(file_mod._schema_cache) == size  # a hit adds no entry
    assert again.schema == first.schema
    assert _rows(again) == _rows(first)
    spark.range(5).selectExpr("CAST(id AS STRING) AS k").write \
        .mode("overwrite").orc(path)
    df = src.read(spark)
    assert df.columns == ["k"]
    assert _rows(df) == [(str(i),) for i in range(5)]


def test_glob_path_bypasses_the_cache(spark, tmp_path):
    d = tmp_path / "g"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "x.parquet"))
    size = len(file_mod._schema_cache)
    glob_path = str(d / "*.parquet")
    read_files(spark, "parquet", glob_path)
    with _Jobs(spark) as jobs:
        df = read_files(spark, "parquet", glob_path)
    assert jobs.n >= 1  # inferred again
    assert len(file_mod._schema_cache) == size
    assert _rows(df) == [(1,), (2,)]


class _FakeReader:
    """Stands in for a DataFrameReader: `load` returns a frame whose
    schema is the one given, else "inferred <path>"."""

    def __init__(self, calls):
        self.calls, self.given = calls, None

    def format(self, fmt):
        self.calls.append(("format", fmt))
        return self

    def options(self, **opts):
        self.calls.append(("options", opts))
        return self

    def schema(self, schema):
        self.calls.append(("schema", schema))
        self.given = schema
        return self

    def load(self, path):
        self.calls.append(("load", path))
        return SimpleNamespace(schema=self.given or f"inferred {path}")


class _FakeSpark:
    def __init__(self):
        self.calls = []
        conf = SimpleNamespace(toString=lambda: "conf")
        self._jsparkSession = SimpleNamespace(
            conf=lambda: SimpleNamespace(getAll=lambda: conf))

    @property
    def read(self):
        return _FakeReader(self.calls)


def test_remote_path_bypasses_the_cache(monkeypatch):
    def no_listing(path):
        raise AssertionError(f"listed remote path {path}")

    monkeypatch.setattr(file_mod, "_local_files", no_listing)
    size = len(file_mod._schema_cache)
    fake = _FakeSpark()
    df = read_files(fake, "parquet", "s3a://bucket/t")
    assert df.schema == "inferred s3a://bucket/t"
    assert fake.calls == [("format", "parquet"), ("options", {}),
                          ("load", "s3a://bucket/t")]
    assert len(file_mod._schema_cache) == size


def test_cache_stays_bounded_and_consistent_under_threads(monkeypatch):
    bound = 8
    monkeypatch.setattr(file_mod, "_SCHEMA_CACHE_SIZE", bound)
    monkeypatch.setattr(file_mod, "_schema_cache", OrderedDict())
    fake = _FakeSpark()
    errors = []

    def reads(seed):
        rng = random.Random(seed)
        try:
            for _ in range(400):
                p = f"/data/t{rng.randrange(3 * bound)}"
                df = read_files(fake, "parquet", p, files=[(p, 1, 1, 1)])
                if df.schema != f"inferred {p}":
                    errors.append((p, df.schema))
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reads, args=(i,))
                   for i in range(2 * (os.cpu_count() or 4))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert 0 < len(file_mod._schema_cache) <= bound
    assert any(c[0] == "schema" for c in fake.calls)  # hits happened


def test_source_read_walks_the_directory_once(spark, tmp_path,
                                              monkeypatch):
    # json: the empty-input check and the .lzo suffix probe both need
    # the listing
    path = str(tmp_path / "w")
    spark.range(10).write.json(path)
    walks = []
    real_walk = os.walk

    def counting_walk(top, *a, **kw):
        walks.append(top)
        return real_walk(top, *a, **kw)

    monkeypatch.setattr(file_mod.os, "walk", counting_walk)
    assert _source(path, file_format_type="json").read(spark).count() == 10
    assert walks == [path]


def test_empty_directory_reads_empty(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    df = _source(str(d)).read(spark)
    assert df.count() == 0 and df.columns == []


def test_csv_without_schema_is_inferred(spark, tmp_path):
    path = tmp_path / "c.csv"
    path.write_text("id,name,score\n1,ann,2.5\n2,bob,3.0\n")
    run_job({
        "source": [{"plugin_name": "LocalFile", "plugin_output": "c",
                    "path": str(path), "file_format_type": "csv"}],
        "sink": [{"plugin_name": "InMemory", "plugin_input": "c",
                  "name": "csv_no_schema"}],
    }, spark)
    out = InMemorySink.get("csv_no_schema")
    assert dict(out.dtypes) == {"id": "int", "name": "string",
                                "score": "double"}
    assert _rows(out) == [(1, "ann", 2.5), (2, "bob", 3.0)]
    stream = FileSource({"path": str(tmp_path), "file_format_type": "csv"}
                        ).read_stream(spark)
    assert stream.isStreaming and stream.columns == ["id", "name", "score"]


def test_selfcheck_imports_its_own_checkout(tmp_path):
    checkout = tmp_path / "checkout"
    (checkout / "tools").mkdir(parents=True)
    shutil.copy(os.path.join(REPO, "tools", "selfcheck.py"),
                checkout / "tools")
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), checkout)
    # imported the way perfbench/workloads.py does, from a directory
    # that is neither checkout
    script = tmp_path / "run" / "probe.py"
    script.parent.mkdir()
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(checkout / 'tools')!r})\n"
        "import selfcheck\n"
        "import __spark_entry__\n"
        "print(__spark_entry__.__file__)\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path / "run",
                         env=env, capture_output=True, text=True,
                         timeout=120, check=True).stdout.strip()
    assert out == str(checkout / "__spark_entry__.py")
