"""A batch job whose sinks share one upstream table: when computing
that upstream again would re-run a shuffle or give other rows, the
engine reads it once (it persists the table for the sink loop and
releases it afterwards, also when a sink raises) and every sink writes
the same snapshot; a deterministic scan is scanned once per sink. Each
sink keeps its own rows_written metric."""

import logging
import uuid

import pytest

from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec
from seatunnel_spark.sinks.base import Sink

N_ROWS = 500


@pytest.fixture(scope="module")
def src_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fanout_src") / "src.parquet")
    spark.range(N_ROWS).selectExpr("id", "id % 7 AS k") \
        .repartition(4).write.parquet(path)
    return path


# rand() makes each evaluation of the upstream differ, so only sinks
# that read one snapshot of it can agree row for row
NOISY = "SELECT id, k, rand() AS r FROM src"


def _spec(src: str, sinks: list[dict], query: str = NOISY) -> JobSpec:
    return JobSpec.from_dict({
        "env": {"job.mode": "BATCH"},
        "source": [{"plugin_name": "LocalFile", "plugin_output": "src",
                    "path": src, "file_format_type": "parquet"}],
        "transform": [{"plugin_name": "Sql", "plugin_input": "src",
                       "plugin_output": "noisy", "query": query}],
        "sink": sinks,
    })


def _file_sink(path: str) -> dict:
    return {"plugin_name": "LocalFile", "plugin_input": "noisy",
            "path": path, "file_format_type": "parquet",
            "data_save_mode": "DROP_DATA"}


def _persisted(spark) -> set[int]:
    """Ids of the session's persisted RDDs. Compared as sets: the
    context cleaner may release an earlier test's RDD meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _input_records(spark, group: str) -> int:
    """Records read by the stages of the jobs run in job group `group`."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages = {sid for jid in tracker.getJobIdsForGroup(group)
              if (info := tracker.getJobInfo(jid)) is not None
              for sid in info.stageIds}
    total = 0
    for sid in stages:
        s = store.lastStageAttempt(sid)
        if s.numCompleteTasks():  # 0: skipped, its output was reused
            total += s.inputRecords()
    return total


def _rows(spark, path: str) -> list:
    return sorted(spark.read.parquet(path).collect())


def test_shared_upstream_is_read_once_and_released(spark, src_path, tmp_path):
    before = _persisted(spark)
    group = f"fanout-{uuid.uuid4().hex[:8]}"
    spark.sparkContext.setJobGroup(group, "shared upstream read once")
    try:
        eng = JobEngine(spark)
        eng.run(_spec(src_path, [_file_sink(str(tmp_path / "a")),
                                 _file_sink(str(tmp_path / "b"))]))
        read = _input_records(spark, group)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    # the source's rows once; reading the cache back counts one record
    # per cached batch, a handful here
    assert N_ROWS <= read < N_ROWS + 100, read
    a, b = _rows(spark, str(tmp_path / "a")), _rows(spark, str(tmp_path / "b"))
    assert len(a) == N_ROWS and a == b
    assert _persisted(spark) <= before


@pytest.mark.parametrize("query,reads", [
    # a deterministic scan: scanning it again is cheaper than caching it
    ("SELECT id, k FROM src WHERE id >= 0", 2),
    # an aggregate: one cached copy instead of one shuffle per sink
    ("SELECT k, count(*) AS n FROM src GROUP BY k", 1),
])
def test_shared_upstream_persisted_only_when_recompute_shuffles(
        spark, src_path, tmp_path, query, reads):
    group = f"fanout-{uuid.uuid4().hex[:8]}"
    spark.sparkContext.setJobGroup(group, "shared upstream policy")
    try:
        JobEngine(spark).run(_spec(src_path, [_file_sink(str(tmp_path / "a")),
                                              _file_sink(str(tmp_path / "b"))],
                                   query))
        read = _input_records(spark, group)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert reads * N_ROWS <= read < reads * N_ROWS + 100, read
    assert _rows(spark, str(tmp_path / "a")) == _rows(spark, str(tmp_path / "b"))


def test_shared_upstream_released_when_a_sink_raises(spark, src_path,
                                                     tmp_path):
    before = _persisted(spark)
    eng = JobEngine(spark)
    with pytest.raises(RuntimeError, match="throw_exception"):
        eng.run(_spec(src_path, [
            _file_sink(str(tmp_path / "a")),
            {"plugin_name": "InMemory", "plugin_input": "noisy",
             "name": "fanout_raises", "throw_exception": "true"}]))
    assert _persisted(spark) <= before


def test_two_sinks_of_one_plugin_keep_their_own_metric(spark, src_path,
                                                       tmp_path):
    eng = JobEngine(spark)
    eng.run(_spec(src_path, [_file_sink(str(tmp_path / "a")),
                             _file_sink(str(tmp_path / "b"))]))
    assert sorted(eng.metrics) == ["LocalFile#2.noisy.rows_written",
                                   "LocalFile.noisy.rows_written"]
    assert eng.metrics["LocalFile.noisy.rows_written"] == \
        spark.read.parquet(str(tmp_path / "a")).count() == N_ROWS
    assert eng.metrics["LocalFile#2.noisy.rows_written"] == \
        spark.read.parquet(str(tmp_path / "b")).count() == N_ROWS


def test_dag_views_registered_once_without_leaks(spark, src_path, tmp_path,
                                                 monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    registered = []
    real = DataFrame.createOrReplaceTempView

    def spy(df, name):
        registered.append(name)
        return real(df, name)

    monkeypatch.setattr(DataFrame, "createOrReplaceTempView", spy)
    JobEngine(spark).run(_spec(src_path, [_file_sink(str(tmp_path / "a"))]))
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert {"src", "noisy"} <= views
    assert not any(v.startswith("__st_sql_in") for v in views)
    # the engine registers src and noisy once each; the Sql transform
    # registers its input under src and the pseudo-tables dual/input
    assert sorted(registered) == sorted(["src", "noisy", "src", "dual",
                                         "input"])


class _NoActionSink(Sink):
    """A sink whose write runs no Spark action, so its observed
    rows_written metric never arrives."""

    NAME = "NoAction"

    def write(self, df):
        pass


def test_missing_sink_metric_is_logged(spark, src_path, monkeypatch, caplog):
    from seatunnel_spark.job import engine

    real = engine.get_sink
    monkeypatch.setattr(
        engine, "get_sink",
        lambda name, opts: _NoActionSink(opts) if name == "NoAction"
        else real(name, opts))
    eng = JobEngine(spark)
    with caplog.at_level(logging.WARNING, logger=engine.__name__):
        eng.run(_spec(src_path, [{"plugin_name": "NoAction",
                                  "plugin_input": "noisy"}]))
    assert eng.metrics == {}
    assert any("NoAction" in r.getMessage() and "'noisy'" in r.getMessage()
               for r in caplog.records if r.levelno == logging.WARNING)
