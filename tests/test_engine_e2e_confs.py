"""Run the reference's ENGINE e2e job configs unmodified.

These are the confs the Zeta-engine integration tests submit
(seatunnel-e2e/seatunnel-engine-e2e/.../src/test/resources/) — they
exercise engine-level features rather than connectors: `-i key=value`
variable substitution with `${name:default}` forms (UserVariableIT,
docs/en/concept/config.md:236-320), multi-table fake jobs with
changelog rows, InMemory sinks with savemode and sink placeholders,
text sinks with enable_header_write (TextHeaderIT), checkpoint
enable/disable env flags (no-ops for batch here — Spark's committer
provides the exactly-once batch story), and write->assert round
trips. Sink paths under /tmp/{hive,seatunnel,text} remap to a temp
dir via the same path-alias mechanism the file-conf suite uses.
"""

import os

import pytest

from conftest import reference_params, reference_path
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec

_BASE = reference_path("seatunnel-e2e/seatunnel-engine-e2e/"
                       "connector-seatunnel-e2e-base/src/test/resources")
_CONSOLE = reference_path("seatunnel-e2e/seatunnel-engine-e2e/"
                          "connector-console-seatunnel-e2e/src/test/resources")

# UserVariableIT.userVariableTest / userVariableWithDefaultValueTest
_VARS_FULL = {
    "resName": "fake", "rowNum": "10", "strTemplate": "[abc,def]",
    "nameType": "string", "nameVal": "abc", "pluginInputIdentifier": "sql",
}
_VARS_DEFAULTED = {
    "strTemplate": "[abc,def]", "ageType": "int", "nameVal": "abc",
    "pluginInputIdentifier": "sql",
}

# (conf path, variables dict or None)
ENGINE_CONFS = [
    (f"{_CONSOLE}/fakesource_to_console.conf", None),
    (f"{_BASE}/fakesource_to_console.conf", None),
    (f"{_BASE}/valid_job_name.conf", None),
    (f"{_BASE}/batch_fake_multi_table_to_console.conf", None),
    (f"{_BASE}/batch_fakesource_to_file.conf", None),
    (f"{_BASE}/batch_fakesource_to_file_complex.conf", None),
    (f"{_BASE}/savemode/fake_to_inmemory_savemode.conf", None),
    (f"{_BASE}/classloader/fake_to_inmemory.conf", None),
    (f"{_BASE}/fake_to_inmemory_with_sink_placeholder.conf", None),
    (f"{_BASE}/fake_to_console.variables.conf", _VARS_FULL),
    (f"{_BASE}/fake_to_console_with_default_value.variables.conf",
     _VARS_DEFAULTED),
    (f"{_BASE}/cluster_batch_fake_to_localfile_template.conf",
     {"dynamic_job_mode": "BATCH", "dynamic_test_row_num_per_parallelism":
      "100", "dynamic_test_parallelism": "2",
      "dynamic_test_case_name": "template_case"}),
    # TextHeaderIT substitutes file_format_type × enable_header_write:
    (f"{_BASE}/batch_fakesource_to_file_header.conf",
     {"file_format_type": "text", "enable_header_write": "true"}),
    (f"{_BASE}/batch_fakesource_to_file_header.conf",
     {"file_format_type": "csv", "enable_header_write": "true"}),
    (f"{_BASE}/batch_fakesource_to_file_header.conf",
     {"file_format_type": "text", "enable_header_write": "false"}),
    # CheckpointEnableIT: write 100 rows with the checkpoint env flag
    # on/off, then assert the sink file contents in a second job.
    (f"{_BASE}/checkpoint-batch-enable-test-resources/"
     "batch_fakesource_to_localfile_checkpoint_enable.conf", None),
    (f"{_BASE}/checkpoint-batch-enable-test-resources/"
     "sink_file_text_to_assert.conf", None),
    (f"{_BASE}/checkpoint-batch-disable-test-resources/"
     "batch_fakesource_to_localfile_checkpoint_disable.conf", None),
    (f"{_BASE}/checkpoint-batch-disable-test-resources/"
     "sink_file_text_to_assert.conf", None),
]
# STREAMING confs run until cancelled (their ITs submit, assert, then
# cancel the job); here the run is bounded with the engine's
# streaming.await.timeout and the queries stopped afterwards — the
# same submit/observe/cancel lifecycle.
STREAMING_CONFS = [
    f"{_BASE}/unify-env-param-test-resource/"
    "unify_env_param_fakesource_to_localfile.conf",
    f"{_BASE}/unify-env-param-test-resource/"
    "outdated_env_param_fakesource_to_localfile.conf",
    f"{_BASE}/unify-env-param-test-resource/"
    "unify_flink_table_env_param_fakesource_to_console.conf",
    f"{_BASE}/stream_fakesource_to_console.conf",
    f"{_BASE}/stream_fakesource_to_file.conf",
    f"{_BASE}/checkpoint-streaming-enable-test-resources/"
    "stream_fakesource_to_localfile.conf",
]
# Not runnable here, by design: cluster-internals tests (slot
# scheduling, node fault tolerance, job restore, REST API, retry/
# cancel semantics, classloader cache) — they test the Zeta scheduler,
# which Spark replaces wholesale.


@pytest.fixture(scope="module")
def tmp_sink_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("engine_sinks")
    old = os.environ.get("SEATUNNEL_SPARK_PATH_ALIASES")
    os.environ["SEATUNNEL_SPARK_PATH_ALIASES"] = ",".join(
        f"/tmp/{p}={root}/{p}" for p in ("hive", "seatunnel", "text"))
    yield root
    if old is None:
        os.environ.pop("SEATUNNEL_SPARK_PATH_ALIASES", None)
    else:
        os.environ["SEATUNNEL_SPARK_PATH_ALIASES"] = old


@pytest.mark.parametrize(
    "conf,variables",
    reference_params(ENGINE_CONFS, path=lambda c: c[0]),
    ids=lambda v: (os.path.basename(v) if isinstance(v, str)
                   else "-".join(str(x) for x in (v or {}).values())[:40]),
)
def test_engine_conf_runs_unmodified(spark, tmp_sink_root, conf, variables):
    spec = JobSpec.from_file(conf, variables)
    JobEngine(spark).run(spec)


@pytest.mark.parametrize(
    "conf", reference_params(STREAMING_CONFS),
    ids=lambda c: os.path.basename(c),
)
def test_streaming_engine_conf_bounded(spark, tmp_sink_root, conf):
    spec = JobSpec.from_file(conf)
    spec.env["streaming.await.timeout"] = 8  # seconds
    try:
        JobEngine(spark).run(spec)
    finally:
        for q in spark.streams.active:
            q.stop()


def test_header_write_content(spark, tmp_path):
    """TextHeaderIT's actual assertion: the first line of every output
    file is the field names joined by the delimiter."""
    from seatunnel_spark.sinks.file import FileSink

    df = spark.createDataFrame([("a", 1), ("b", 2)], ["name", "age"])
    out = str(tmp_path / "headered_csv")
    FileSink({"path": out, "file_format_type": "csv",
              "enable_header_write": "true"}).write(df.coalesce(1))
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert files
    lines = open(os.path.join(out, files[0])).read().splitlines()
    assert lines[0] == "name,age"
    assert sorted(lines[1:]) == ["a,1", "b,2"]

    out2 = str(tmp_path / "headered_text")
    FileSink({"path": out2, "file_format_type": "text",
              "enable_header_write": "true"}).write(df.coalesce(1))
    files = [f for f in os.listdir(out2) if f.endswith(".text")]
    lines = open(os.path.join(out2, files[0])).read().splitlines()
    assert lines[0] == "name\x01age"


def test_variable_substitution_semantics():
    """config.md:236-320: textual pre-parse substitution — a list-shaped
    value becomes an array literal; defaults apply when unset; unset
    variables without defaults stay literal."""
    from seatunnel_spark.job.hocon import parse_hocon

    text = """
    a = ${strTemplate}
    b = "${rowNum:50}"
    c = "${resName:fake_test}_table"
    d = ${unset_no_default}
    e = "select * from ${resName:fake_test}_table where name = '${nameVal}'"
    """
    out = parse_hocon(text, {"strTemplate": "[abc,def]", "nameVal": "abc"})
    assert out["a"] == ["abc", "def"]
    assert out["b"] == "50"
    assert out["c"] == "fake_test_table"
    assert out["d"] == "${unset_no_default}"
    assert out["e"] == "select * from fake_test_table where name = 'abc'"


def test_error_conf_fails_as_designed(spark):
    """batch_fakesource_to_console_error.conf: `cast(name as int)` on
    random hex strings must fail the job (the IT asserts non-zero
    exit) — ANSI mode surfaces it as a cast error."""
    conf = f"{_BASE}/batch_fakesource_to_console_error.conf"
    if not os.path.exists(conf):
        pytest.skip("reference conf missing")
    with pytest.raises(Exception):
        JobEngine(spark).run(JobSpec.from_file(conf))


def test_job_retry_times(spark):
    """job.retry.times (EnvCommonOptions.java:48-52): a failing job is
    re-attempted N times before the error propagates."""
    from seatunnel_spark.sinks import memory

    memory._ATTEMPTS.pop("retry_probe", None)
    spec = JobSpec.from_dict({
        "env": {"job.mode": "BATCH", "job.retry.times": 2,
                "job.retry.interval.seconds": 0},
        "source": [{"plugin_name": "FakeSource", "plugin_output": "fake",
                    "row.num": 3,
                    "schema": {"fields": {"id": "int"}}}],
        "sink": [{"plugin_name": "InMemory", "plugin_input": "fake",
                  "name": "retry_probe", "throw_exception": "true"}],
    })
    with pytest.raises(RuntimeError, match="throw_exception"):
        JobEngine(spark).run(spec)
    assert memory.InMemorySink.attempts("retry_probe") == 3  # 1 + 2 retries


def test_retry_conf_streaming_error(spark):
    """retry-times/stream_fake_to_inmemory_with_error_retry_1.conf:
    STREAMING job whose InMemory sink throws; job.retry.times=1 means
    exactly one re-attempt before failure."""
    conf = (f"{_BASE}/retry-times/"
            "stream_fake_to_inmemory_with_error_retry_1.conf")
    if not os.path.exists(conf):
        pytest.skip("reference conf missing")
    from seatunnel_spark.sinks import memory

    memory._ATTEMPTS.clear()
    with pytest.raises(Exception):
        JobEngine(spark).run(JobSpec.from_file(conf))
    for q in spark.streams.active:
        q.stop()
    assert sum(memory._ATTEMPTS.values()) >= 2
