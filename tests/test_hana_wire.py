"""SAP HANA hdb-protocol conformance: codec property suites
(decimal128, DAYDATE/SECONDTIME/SECONDDATE/LONGDATE, length-prefixed
strings, LOB chunks, auth field lists, connect options, result-set
metadata, message framing), SCRAMSHA256 mutual auth incl. the
negative case, paged FETCHNEXT reads, and BOTH reference sap_hana
confs run UNMODIFIED against the mini server
(jdbc_sap_hana_source_and_sink.conf /
jdbc_sap_hana_test_view_and_synonym.conf — JdbcHanaIT.java's surface,
CREATE_SOURCE_SQL column set)."""

import datetime
import decimal
import hashlib
import hmac

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import reference_glob
from seatunnel_spark import hana_wire as H
from seatunnel_spark.testing.hana_server import _col, start_mini_hana

# -- codec properties ---------------------------------------------------


@given(st.one_of(st.none(), st.decimals(
    allow_nan=False, allow_infinity=False,
    min_value=-(10 ** 20), max_value=10 ** 20, places=6)))
@settings(max_examples=200, deadline=None)
def test_hana_decimal128_roundtrip(d):
    assert H.dec_dec128(H.enc_dec128(d)) == d


@given(st.one_of(st.none(), st.dates()))
@settings(max_examples=150, deadline=None)
def test_hana_daydate_roundtrip(d):
    assert H.dec_daydate(H.enc_daydate(d)) == d


@given(st.one_of(st.none(), st.times().map(
    lambda t: t.replace(microsecond=0))))
@settings(max_examples=150, deadline=None)
def test_hana_secondtime_roundtrip(t):
    assert H.dec_secondtime(H.enc_secondtime(t)) == t


@given(st.one_of(st.none(), st.datetimes(
    min_value=datetime.datetime(1, 1, 2),
    max_value=datetime.datetime(9999, 12, 31)).map(
        lambda ts: ts.replace(microsecond=0))))
@settings(max_examples=150, deadline=None)
def test_hana_seconddate_roundtrip(ts):
    assert H.dec_seconddate(H.enc_seconddate(ts)) == ts


@given(st.one_of(st.none(), st.datetimes(
    min_value=datetime.datetime(1, 1, 2),
    max_value=datetime.datetime(9999, 12, 31)).map(
        lambda ts: ts.replace(microsecond=(ts.microsecond // 10) * 10))))
@settings(max_examples=150, deadline=None)
def test_hana_longdate_roundtrip(ts):
    # LONGDATE ticks are 100ns; trim to the 10-us grid they carry
    assert H.dec_longdate(H.enc_longdate(ts)) == ts


@given(st.one_of(st.none(), st.binary(max_size=300)))
@settings(max_examples=200, deadline=None)
def test_hana_lenval_roundtrip(b):
    got, i = H.dec_lenval(H.enc_lenval(b), 0)
    assert got == b and i == len(H.enc_lenval(b))


def test_hana_lenval_extents():
    # all three wire extents: inline <=245, 0xF6 int16, 0xF7 int32
    for n in (0, 245, 246, 0x7FFF, 0x8000, 100_000):
        b = bytes(n % 251 for _ in range(n)) if n else b""
        b = bytes((i * 7) % 251 for i in range(n))
        got, i = H.dec_lenval(H.enc_lenval(b), 0)
        assert got == b and i == len(H.enc_lenval(b))


@given(st.one_of(st.none(), st.binary(max_size=500)))
@settings(max_examples=150, deadline=None)
def test_hana_lob_roundtrip(b):
    got, i = H.dec_lob(H.enc_lob(b), 0)
    assert got == b and i == len(H.enc_lob(b))


@given(st.lists(st.binary(max_size=300), max_size=6))
@settings(max_examples=150, deadline=None)
def test_hana_fields_roundtrip(fields):
    assert H.fields_decode(H.fields_encode(fields)) == fields


@given(st.lists(st.tuples(
    st.integers(0, 60),
    st.sampled_from([H.T_BOOLEAN, H.T_INT, H.T_BIGINT, H.T_STRING]),
    st.integers(-(2 ** 31), 2 ** 31 - 1)), max_size=6))
@settings(max_examples=150, deadline=None)
def test_hana_options_roundtrip(opts):
    enc = [(k, tc,
            bool(v % 2) if tc == H.T_BOOLEAN
            else str(v) if tc == H.T_STRING else v)
           for k, tc, v in opts]
    got = H.options_decode(H.options_encode(enc), len(enc))
    # later duplicate keys win, as on the wire
    want = {k: v for k, tc, v in enc}
    assert got == want


_DECLS = ["tinyint", "smallint", "int", "bigint", "real", "double",
          "boolean", "varchar(100)", "nvarchar(255)", "decimal(10,2)",
          "date", "time", "timestamp", "seconddate", "clob", "nclob",
          "blob", "varbinary(50)", "alphanum(20)", "shorttext(255)"]


@given(st.lists(st.tuples(
    st.text(alphabet="ABCDEFGHIJK_", min_size=1, max_size=12),
    st.sampled_from(_DECLS)), min_size=1, max_size=10))
@settings(max_examples=100, deadline=None)
def test_hana_metadata_roundtrip(cols):
    hcols = [_col(n, d) for n, d in cols]
    got = H.dec_metadata(H.enc_metadata(hcols), len(hcols))
    assert [(c.name, c.dtype, c.fraction, c.length) for c in got] == \
        [(c.name, c.dtype, c.fraction, c.length) for c in hcols]


def _value_for(decl: str, i: int):
    base = decl.split("(")[0]
    return {
        "tinyint": i % 200, "smallint": -i, "int": 100 + i,
        "bigint": 10_000_000_000 + i, "real": i / 2.0,
        "double": i * 1.5, "boolean": i % 2 == 0,
        "varchar": f"v_{i}", "nvarchar": f"nv_é{i}",
        "decimal": decimal.Decimal(f"{i}.25"),
        "date": datetime.date(2024, 3, 19),
        "time": datetime.time(13, 30, i % 60),
        "timestamp": datetime.datetime(2024, 3, 19, 12, 0, i % 60,
                                       250000),
        "seconddate": datetime.datetime(2024, 3, 19, 12, 0, i % 60),
        "clob": f"clob text {i}" * 30, "nclob": f"nclob € {i}",
        "blob": bytes([i % 251]) * 300, "varbinary": b"\x00\x01\xff",
        "alphanum": f"A{i:04d}", "shorttext": f"short {i}",
    }[base]


@given(st.lists(st.sampled_from(_DECLS), min_size=1, max_size=12),
       st.integers(0, 59))
@settings(max_examples=150, deadline=None)
def test_hana_row_codec_roundtrip(decls, i):
    cols = [_col(f"C{k}", d) for k, d in enumerate(decls)]
    vals = [_value_for(d, i) if (i + k) % 5 else None
            for k, d in enumerate(decls)]
    buf = b"".join(H.enc_value(c, v) for c, v in zip(cols, vals))
    pos, got = 0, []
    for c in cols:
        v, pos = H.dec_value(c, buf, pos)
        got.append(v)
    assert pos == len(buf)
    for want, have, c in zip(vals, got, cols):
        if isinstance(want, float) and c.dtype == H.T_REAL:
            assert have == pytest.approx(want, rel=1e-6)
        elif isinstance(want, bool):
            assert have is want
        else:
            assert have == want


def test_hana_message_framing_roundtrip():
    parts = [H.Part(H.PK_COMMAND, 0, 1, b"SELECT 1 FROM DUMMY"),
             H.Part(H.PK_FETCHSIZE, 3, 1, b"\x00\x04\x00\x00"),
             H.Part(H.PK_RESULTSETID, 0, 1, b"\x01" * 8)]
    msg = H.build_message(77, 3, H.SEG_REQUEST, H.MSG_EXECUTEDIRECT,
                          parts)
    kind, code, got = H.parse_message(msg[32:])
    assert kind == H.SEG_REQUEST and code == H.MSG_EXECUTEDIRECT
    assert [(p.kind, p.attrs, p.argcount, p.buffer) for p in got] == \
        [(p.kind, p.attrs, p.argcount, p.buffer) for p in parts]


def test_hana_scram_proof_algorithm():
    """Independent restatement of the published SCRAMSHA256 proof
    (node-hdb lib/protocol/auth/SCRAMSHA256 / go-hdb scramsha256):
    key = sha256(HMAC_pw(salt)); proof = HMAC_{sha256(key)}(salt ||
    serverNonce || clientNonce) XOR key."""
    pw, salt = "testPassword123", bytes(range(16))
    snonce, cnonce = bytes(range(48)), bytes(range(64))
    key = hashlib.sha256(
        hmac.new(pw.encode(), salt, hashlib.sha256).digest()).digest()
    sig = hmac.new(hashlib.sha256(key).digest(),
                   salt + snonce + cnonce, hashlib.sha256).digest()
    want = bytes(a ^ b for a, b in zip(sig, key))
    assert H.scram_client_proof(pw, salt, snonce, cnonce) == want
    # a different password yields a different proof (no degenerate XOR)
    assert H.scram_client_proof("other", salt, snonce, cnonce) != want


# -- client <-> mini-server conformance ----------------------------------


def _seed_alldatatypes(srv, nrows: int = 5):
    """JdbcHanaIT.CREATE_SOURCE_SQL's live column set (the commented
    types are skipped by the IT itself)."""
    cols_decls = [
        ("INT_VALUE", "int"), ("VARCHAR_VALUE", "varchar"),
        ("VARCHAR_VALUE_255", "varchar(255)"),
        ("NVARCHAR_VALUE", "nvarchar"),
        ("NVARCHAR_VALUE_255", "nvarchar(255)"),
        ("TEXT_VALUE", "text"), ("BINTEXT_VALUE", "bintext"),
        ("DECIMAL_VALUE_10_2", "decimal(10,2)"),
        ("TIMESTAMP_VALUE", "timestamp"),
        ("SECOND_DATE_VALUE", "seconddate"),
        ("BOOLEAN_VALUE", "boolean"), ("DATE_VALUE", "date"),
        ("TIME_VALUE", "time"), ("BIGINT_VALUE", "bigint"),
        ("SMALLINT_VALUE", "smallint"), ("TINYINT_VALUE", "tinyint"),
        ("REAL_VALUE", "real"), ("DOUBLE_VALUE", "double"),
        ("FLOAT_VALUE", "float"), ("FLOAT_VALUE_10", "float(10)"),
        ("CLOB_VALUE", "clob"), ("NCLOB_VALUE", "nclob"),
        ("ALPHANUM_VALUE", "alphanum"),
        ("ALPHANUM_VALUE_20", "alphanum(20)"),
        ("SHORTTEXT_VALUE_255", "shorttext(255)"),
    ]
    cols = [c for c, _ in cols_decls]
    decls = [d for _, d in cols_decls]
    rows = [(
        i, f"varchar_{i}", f"varchar255_{i}", f"nvarchar_{i}",
        f"nvarchar255_é{i}", f"text_{i}", f"bintext_{i}",
        decimal.Decimal(f"{i}.25"),
        datetime.datetime(2024, 3, 19, 12, 0, i, 120000),
        datetime.datetime(2024, 3, 19, 12, 0, i),
        i % 2 == 0, datetime.date(2024, 3, 19),
        datetime.time(13, 30, i), 10_000_000_000 + i, i, i,
        i / 2.0, i * 1.5, i * 2.5, i / 4.0,
        f"clob_{i}", f"nclob_{i}", f"A{i}", f"AN20_{i}",
        f"short_{i}",
    ) for i in range(nrows)]
    srv.tables["TEST.ALLDATATYPES"] = (cols, decls, rows)
    return cols, rows


def test_hana_client_paged_query_and_execute():
    srv, port, stop = start_mini_hana("SYSTEM", "testPassword123",
                                      page_rows=2)
    try:
        cols, rows = _seed_alldatatypes(srv)
        cl = H.HanaClient("127.0.0.1", port, "SYSTEM",
                          "testPassword123")
        try:
            names, dsl, got = cl.query("SELECT * FROM TEST.ALLDATATYPES")
            assert names == cols
            # page_rows=2, 5 rows -> FETCHNEXT exercised (3 pages)
            assert len(got) == 5
            assert got[3][0] == 3 and got[3][1] == "varchar_3"
            assert got[2][7] == decimal.Decimal("2.25")
            assert got[4][8] == datetime.datetime(2024, 3, 19, 12, 0, 4,
                                                  120000)
            assert got[1][10] is False and got[0][10] is True
            assert dsl[0] == "int" and dsl[7] == "decimal(10,2)"
            assert dsl[8] == "timestamp" and dsl[11] == "date"
            n = cl.execute(
                "INSERT INTO TEST.SINK (A) VALUES (1)")
            assert n == 1
            assert srv.statements[-1].startswith("INSERT INTO TEST.SINK")
            with pytest.raises(H.HanaError, match="invalid table name"):
                cl.query("SELECT * FROM TEST.NOPE")
        finally:
            cl.close()
    finally:
        stop()


def test_hana_auth_failure():
    srv, port, stop = start_mini_hana("SYSTEM", "testPassword123")
    try:
        with pytest.raises(H.HanaError, match="authentication failed"):
            H.HanaClient("127.0.0.1", port, "SYSTEM", "wrong")
        assert srv.auth_failures == 1
        # and the real password still works on a fresh connection
        cl = H.HanaClient("127.0.0.1", port, "SYSTEM",
                          "testPassword123")
        cl.close()
    finally:
        stop()


# -- the two reference confs, UNMODIFIED ---------------------------------

_BASE = "seatunnel-e2e/seatunnel-connector-v2-e2e/connector-jdbc-e2e"


def _find_conf(name: str) -> str:
    return reference_glob(f"{_BASE}/*/src/test/resources/**/{name}")[0]


def test_jdbc_sap_hana_source_and_sink_conf(spark, monkeypatch):
    """jdbc_sap_hana_source_and_sink.conf: table_path read of
    TEST.ALLDATATYPES over the hdb wire -> generate_sink_sql INSERTs
    into TEST.ALLDATATYPES_SINK with RECREATE_SCHEMA."""
    from seatunnel_spark.job.engine import JobEngine
    from seatunnel_spark.job.spec import JobSpec

    srv, port, stop = start_mini_hana("SYSTEM", "testPassword123",
                                      page_rows=2)
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"e2e_saphana=tcp://127.0.0.1:{port}")
    try:
        _seed_alldatatypes(srv)
        conf = _find_conf("jdbc_sap_hana_source_and_sink.conf")
        JobEngine(spark).run(JobSpec.from_file(conf))
        ins = [s for s in srv.statements
               if s.upper().startswith("INSERT")]
        assert len(ins) == 5
        blob = " ".join(ins)
        assert "ALLDATATYPES_SINK" in blob
        assert "varchar_4" in blob and "10000000003" in blob
        ddl = [s for s in srv.statements
               if s.upper().startswith(("CREATE", "DROP"))]
        assert any("ALLDATATYPES_SINK" in s for s in ddl), ddl
    finally:
        stop()


def test_jdbc_sap_hana_view_and_synonym_conf(spark, monkeypatch):
    """jdbc_sap_hana_test_view_and_synonym.conf: table_list fan-out of
    a VIEW and a SYNONYM (both aliasing ALLDATATYPES, as
    JdbcHanaIT.java creates them) -> per-table ${table_name}_sink."""
    from seatunnel_spark.job.engine import JobEngine
    from seatunnel_spark.job.spec import JobSpec

    srv, port, stop = start_mini_hana("SYSTEM", "testPassword123",
                                      page_rows=2)
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"e2e_saphana=tcp://127.0.0.1:{port}")
    try:
        _seed_alldatatypes(srv)
        srv.aliases["TEST.ALLDATATYPES_VIEW"] = "TEST.ALLDATATYPES"
        srv.aliases["TEST.ALLDATATYPES_SYNONYM"] = "TEST.ALLDATATYPES"
        conf = _find_conf("jdbc_sap_hana_test_view_and_synonym.conf")
        JobEngine(spark).run(JobSpec.from_file(conf))
        ins = [s for s in srv.statements
               if s.upper().startswith("INSERT")]
        blob = " ".join(s.upper() for s in ins)
        assert "ALLDATATYPES_VIEW_SINK" in blob
        assert "ALLDATATYPES_SYNONYM_SINK" in blob
        # both tables carry the full 5 source rows
        assert len(ins) == 10
    finally:
        stop()


def test_wire_save_mode_uses_resolved_primary_keys(spark, monkeypatch):
    """The SaveMode CREATE TABLE must carry the RESOLVED primary key
    (placeholder substituted from discovered source keys), never the
    raw ${primary_key} string, and probes the quoted identifier."""
    from seatunnel_spark.sinks.jdbc import JdbcSink

    srv, port, stop = start_mini_hana("SYSTEM", "pw")
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"hana-sm=tcp://127.0.0.1:{port}")
    try:
        sink = JdbcSink({
            "url": "jdbc:sap://hana-sm:39017",
            "user": "SYSTEM", "password": "pw",
            "table": "TEST.PK_SINK",
            "generate_sink_sql": True,
            "schema_save_mode": "CREATE_SCHEMA_WHEN_NOT_EXIST",
            "primary_keys": ["${primary_key}"],
        })
        sink.plugin_name = "Jdbc"
        sink.source_keys = ["id"]
        df = spark.createDataFrame([(1, "x")], "id int, v string")
        sink.write(df)
        creates = [s for s in srv.statements
                   if s.upper().startswith("CREATE TABLE")]
        assert creates, srv.statements
        assert 'PRIMARY KEY ("id")' in creates[0]
        assert "${primary_key}" not in creates[0]
        # probe used the quoted identifier form
        assert any('"TEST"."PK_SINK"' in s for s in srv.statements
                   if s.upper().startswith("SELECT"))
    finally:
        stop()
