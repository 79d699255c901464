"""Apache Avatica (Phoenix Query Server thin protocol) over protobuf
WireMessages: client<->mini-server round trips, TypedValue codec,
Fetch paging, and jdbc_phoenix_source_and_sink.conf UNMODIFIED."""

import datetime
from decimal import Decimal

import pytest

from conftest import reference_glob
from seatunnel_spark.avatica import (
    AvaticaClient,
    AvaticaError,
    dec_typed_value,
    enc_typed_value,
)
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec
from seatunnel_spark.testing.avatica_server import start_mini_avatica


@pytest.fixture()
def server():
    srv, port, stop = start_mini_avatica()
    yield srv, port
    stop()


def test_typed_value_roundtrip():
    for v in (None, True, False, 0, -1, 123456789012345, 1.5, -2.25,
              "text", b"\x00\x01bin", Decimal("12.345")):
        got = dec_typed_value(enc_typed_value(v))
        assert got == v, v
    assert dec_typed_value(enc_typed_value(
        datetime.date(2024, 1, 2))) == "2024-01-02"


def test_query_and_paging(server):
    srv, port = server
    srv.frame_rows = 7  # force Fetch paging
    srv.tables["SOURCE"] = (
        ["age", "name"], ["int", "string"],
        [(i, f"n{i}") for i in range(25)])
    cl = AvaticaClient(f"http://127.0.0.1:{port}")
    try:
        cols, types, rows = cl.query("select * from test.SOURCE")
        assert cols == ["age", "name"] and types == ["int", "string"]
        assert rows == [(i, f"n{i}") for i in range(25)]  # 4 frames
        assert cl.execute(
            "upsert into test.SINK(age, name) values(1, 'x')") == 1
        with pytest.raises(AvaticaError, match="undefined"):
            cl.query("select * from nope")
    finally:
        cl.close()
    assert "select * from test.SOURCE" in srv.statements


def test_phoenix_conf_runs_unmodified(spark, server, monkeypatch):
    """jdbc_phoenix_source_and_sink.conf: thin-driver source read over
    Avatica + UPSERT sink with positional binds."""
    srv, port = server
    srv.tables["SOURCE"] = (
        ["age", "name"], ["int", "string"],
        [(20, "Lacia"), (30, "Kouka")])
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"seatunnel_e2e_phoenix=http://127.0.0.1:{port}")
    conf = reference_glob("seatunnel-e2e/seatunnel-connector-v2-e2e/"
                          "connector-jdbc-e2e/*/src/test/resources/"
                          "jdbc_phoenix_source_and_sink.conf")[0]
    JobEngine(spark).run(JobSpec.from_file(conf))
    upserts = [s for s in srv.statements
               if s.upper().startswith("UPSERT")]
    assert len(upserts) == 2
    blob = " ".join(upserts)
    assert "Lacia" in blob and "Kouka" in blob and "SINK" in blob
