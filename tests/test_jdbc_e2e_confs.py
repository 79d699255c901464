"""connector-jdbc-e2e confs UNMODIFIED against the mini MySQL/PG wire
servers. The reference ITs create `source` tables from init SQL and
compare sink contents; here the harness seeds the mini server with the
conf's own column list (parsed from its sink INSERT / probed via
SELECT *) and asserts the captured sink statements carry every seeded
row — full conf surface over the real text protocols, including
partition probing (MIN/MAX), XA exactly-once, explicit-query sinks,
named parameters, table_path reads, multi-table fan-out, and pg COPY
FROM STDIN."""

import re

import pytest

from conftest import reference_glob
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec

_BASE = "seatunnel-e2e/seatunnel-connector-v2-e2e/connector-jdbc-e2e"


def _find_conf(name: str) -> str:
    return reference_glob(f"{_BASE}/*/src/test/resources/**/{name}")[0]


def _insert_columns(text: str) -> list[str] | None:
    m = re.search(r"insert\s+into\s+[\w.`\"]+\s*\(([^)]*)\)", text,
                  re.I | re.S)
    if not m:
        return None
    return [c.strip().strip('`"') for c in m.group(1).split(",")
            if c.strip()]


# -- typed value/codes by column-name heuristics (the reference's init
# SQL declares these types; the wire is text-protocol either way) ------

def _mysql_code(col: str) -> int:
    c = col.lower()
    if "datetime" in c or "timestamp" in c:
        return 12
    if "date" in c:
        return 10
    if "decimal" in c:
        return 246
    if "float" in c:
        return 4
    if "double" in c:
        return 5
    if "bigint" in c or "bit_64" in c:
        return 8
    if re.search(r"int|bit|boolean|year", c):
        return 3
    return 253


def _value_for(col: str, i: int) -> str:
    c = col.lower()
    if "datetime" in c or "timestamp" in c:
        return f"2024-03-19 12:00:0{i}"
    if "date" in c:
        return "2024-03-19"
    if "time" in c:
        return "13:30:01"
    if "bigint_30" in c:  # the upper/lower-bound conf's window
        return str(2844674407371055000 + i)
    if "decimal" in c or "numeric" in c:
        return f"{i + 1}.25" if "30" not in c else str(100 + i)
    if "float" in c or "double" in c or "real" in c:
        return f"{i}.5"
    if "boolean" in c:
        return "1"
    if re.search(r"int|bit|serial|year|gid|age", c):
        return str(10 * (i + 1))
    if "json" in c:
        return '{"k": %d}' % i
    return f"s{i}_{col[:8]}"


def _seed_mysql(srv, table: str, cols: list[str], nrows: int = 2):
    codes = [_mysql_code(c) for c in cols]
    rows = [tuple(_value_for(c, i) for c in cols) for i in range(nrows)]
    srv.tables[table] = (cols, codes, rows)
    return rows


@pytest.fixture()
def mysql(monkeypatch):
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    srv, port, stop = start_mini_mysql("root", "Abc!@#135_seatunnel")
    srv.users["mariadb_user"] = "mariadb_password"
    srv.users["root@test"] = ""
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_HOST_ALIASES",
        f"mysql-e2e=tcp://127.0.0.1:{port},"
        f"mariadb-e2e=tcp://127.0.0.1:{port},"
        f"e2e_oceanbase_mysql=tcp://127.0.0.1:{port}")
    yield srv
    stop()


@pytest.mark.parametrize("conf", [
    "jdbc_mysql_source_and_sink.conf",
    "jdbc_mysql_source_and_sink_parallel.conf",
    "jdbc_mysql_source_and_sink_parallel_upper_lower.conf",
    "jdbc_mysql_source_and_sink_xa.conf",
    "jdbc_mariadb_source_and_sink.conf",
    "jdbc_oceanbase_mysql_source_and_sink.conf",
])
def test_mysql_family_source_and_sink_confs(spark, mysql, conf):
    """select-from-source -> explicit INSERT sink over the mysql wire:
    full-type column matrices, partition probing (MIN/MAX when bounds
    are absent), explicit bounds, XA exactly-once 2PC."""
    path = _find_conf(conf)
    cols = _insert_columns(open(path).read())
    rows = _seed_mysql(mysql, "source", cols)
    JobEngine(spark).run(JobSpec.from_file(path))
    ins = " ".join(s for s in mysql.statements
                   if s.upper().lstrip().startswith("INSERT"))
    assert "sink" in ins
    for r in rows:  # every seeded row reached the sink
        assert str(r[cols.index("c_varchar")]) in ins, conf
    if "xa" in conf:
        stmts = " ".join(mysql.statements).upper()
        assert "XA PREPARE" in stmts and "XA COMMIT" in stmts


@pytest.mark.parametrize("conf,src_tables,sink_tables", [
    ("jdbc_mysql_source_using_table_path.conf", ["table1"],
     ["table1"]),
    ("jdbc_mariadb_source_using_table_path.conf", ["source"],
     ["sink"]),
    ("jdbc_mysql_source_and_sink_with_multiple_tables.conf",
     ["table1", "table2"], ["table1", "table2"]),
])
def test_mysql_table_path_confs(spark, mysql, conf, src_tables,
                                sink_tables):
    """table_path reads (SELECT * FROM db.table) and the table_list
    multi-table source with ${table_name} sink routing."""
    path = _find_conf(conf)
    cols = ["id", "name", "age"]
    for t in src_tables:
        _seed_mysql(mysql, t, cols)
        mysql.primary_keys[t] = ["id"]
    JobEngine(spark).run(JobSpec.from_file(path))
    ins = " ".join(s for s in mysql.statements
                   if s.upper().lstrip().startswith("INSERT"))
    for t in sink_tables:
        assert t in ins, (conf, ins[:200])


# -- pg family ---------------------------------------------------------

_PG_OID = {"boolean": 16, "smallint": 21, "serial": 23, "int": 23,
           "integer": 23, "bigint": 20, "bigserial": 20,
           "decimal": 1700, "numeric": 1700, "real": 700,
           "double": 701, "date": 1082, "timestamp": 1114}


def _pg_oid(col: str) -> int:
    c = col.lower()
    for k, oid in _PG_OID.items():
        if k in c:
            return oid
    if c in ("gid", "age", "user_id", "pk_id"):
        return 23
    return 25


def _pg_value(col: str, i: int) -> str:
    c = col.lower()
    if "timestamp" in c:
        return f"2024-03-19 12:00:0{i}"
    if "date" in c:
        return "2024-03-19"
    if "boolean" in c:
        return "t"
    if "decimal" in c or "numeric" in c:
        return f"{i + 1}.25"
    if "real" in c or "double" in c:
        return f"{i}.5"
    if re.search(r"int|serial", c) or c in ("gid", "age", "user_id"):
        return str(10 * (i + 1))
    return f"s{i}_{col[:8]}"


def _seed_pg(pg, query: str, nrows: int = 2, cols=None):
    """Canned responses for the probe, MIN/MAX, and data shapes of one
    source query; returns (cols, rows). `cols` overrides the column
    list for select-* queries (taken from the conf's sink INSERT)."""
    base = query.strip().rstrip(";")
    m = re.match(r"select\s+(.+?)\s+from\s+([\w.]+)", base, re.I | re.S)
    sel = m.group(1).strip()
    if sel != "*":
        cols = [c.strip() for c in sel.split(",")]
    elif not cols:
        cols = ["id", "name", "age"]
    oids = [_pg_oid(c) for c in cols]
    rows = [tuple(_pg_value(c, i) for c in cols) for i in range(nrows)]
    up = base.upper()
    pg.canned[up] = (cols, oids, rows)
    pg.canned[f"SELECT * FROM ({up})"] = (cols, oids, rows)
    # MIN/MAX partition probes answer per column TYPE: numeric bounds
    # for numeric columns, strings (unsplittable -> single slice) for
    # varchar partition columns
    for c in cols:
        numeric = _pg_oid(c) != 25
        pg.canned[f"SELECT MIN({c.upper()})"] = (
            ["mn", "mx"], [25, 25],
            [("10", "20") if numeric else ("sa", "sz")])
    return cols, rows


@pytest.fixture()
def pg(monkeypatch):
    from seatunnel_spark.testing.pg_server import start_mini_pg

    pg, port, stop = start_mini_pg("test", "test")
    pg.users["gaussdb"] = "openGauss@123"
    pg.users["SYSTEM"] = "123456"
    pg.users["tester"] = "pivotal"
    pg.users["highgo"] = "Highgo@123"
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_HOST_ALIASES",
        f"postgresql=tcp://127.0.0.1:{port},"
        f"e2e_OpenGauss=tcp://127.0.0.1:{port},"
        f"e2e_KINGBASEDb=tcp://127.0.0.1:{port},"
        f"flink_e2e_greenplum=tcp://127.0.0.1:{port},"
        f"e2e_Highgo=tcp://127.0.0.1:{port}")
    yield pg
    stop()


@pytest.mark.parametrize("conf", [
    "jdbc_postgres_source_and_sink.conf",
    "jdbc_postgres_source_and_sink_parallel.conf",
    "jdbc_postgres_source_and_sink_parallel_upper_lower.conf",
    "jdbc_postgres_source_and_sink_xa.conf",
    "jdbc_postgres_ide_source_and_sink.conf",
    "jdbc_opengauss_source_and_sink.conf",
    "jdbc_kingbase_source_and_sink.conf",
    "jdbc_greenplum_source_and_sink.conf",
    "jdbc_highgo_source_and_sink_with_full_type.conf",
])
def test_pg_family_source_and_sink_confs(spark, pg, conf):
    """pg-wire family (postgres / opengauss / kingbase8 / greenplum /
    highgo urls): generated upserts, explicit INSERT sinks, XA,
    string-partition single-slice fallback, numeric MIN/MAX probe."""
    path = _find_conf(conf)
    spec = JobSpec.from_file(path)
    ins_cols = _insert_columns(open(path).read())
    query = spec.sources[0].options.get("query")
    if query:
        cols, rows = _seed_pg(pg, str(query), cols=ins_cols)
    else:
        tp = str(spec.sources[0].options["table_path"])
        cols, rows = _seed_pg(pg, f"select * from {tp}", cols=ins_cols)
    JobEngine(spark).run(spec)
    ins = " ".join(s for s in pg.statements
                   if s.upper().lstrip().startswith("INSERT"))
    assert ins, conf
    probe = rows[0][1] if len(cols) > 1 else rows[0][0]
    assert str(probe) in ins, (conf, ins[:300])
    if "xa" in conf:
        stmts = " ".join(pg.statements).upper()
        assert "PREPARE TRANSACTION" in stmts \
            and "COMMIT PREPARED" in stmts


def test_pg_copy_statement_conf(spark, pg):
    """jdbc_postgres_source_and_sink_copy_stmt.conf: the sink bulk-
    loads over COPY table (cols) FROM STDIN instead of INSERTs."""
    path = _find_conf("jdbc_postgres_source_and_sink_copy_stmt.conf")
    spec = JobSpec.from_file(path)
    cols, rows = _seed_pg(pg, str(spec.sources[0].options["query"]))
    JobEngine(spark).run(spec)
    assert pg.copied, "no COPY rows received"
    tables = {t for t, _c, _r in pg.copied}
    assert any("pg_e2e_sink_table" in t for t in tables)
    assert len(pg.copied) == len(rows)


@pytest.mark.parametrize("conf,expect", [
    ("jdbc_sink_auto_generate_sql.conf", "INSERT"),
    ("jdbc_sink_auto_generate_upsql_sql.conf", "CONFLICT"),
    ("jdbc_sink_cdc_changelog.conf", "CONFLICT"),
    ("jdbc_sink_name_parameter_sql.conf", "INSERT"),
])
def test_pg_sink_shape_confs(spark, pg, conf, expect):
    """FakeSource -> pg sink shapes: generated plain INSERT, generated
    ON CONFLICT upsert, CDC changelog apply, and :name named-parameter
    statements."""
    path = _find_conf(conf)
    JobEngine(spark).run(JobSpec.from_file(path))
    stmts = " ".join(pg.statements).upper()
    assert expect in stmts, conf
    if "name_parameter" in conf:
        assert ":USER_ID" not in stmts  # named params were bound


# -- OLAP mysql-wire family (doris / selectdb / starrocks / oceanbase) --

_OLAP_COLS = ["BIGINT_COL", "LARGEINT_COL", "SMALLINT_COL",
              "TINYINT_COL", "BOOLEAN_COL", "DECIMAL_COL", "DOUBLE_COL",
              "FLOAT_COL", "INT_COL", "CHAR_COL", "VARCHAR_11_COL",
              "STRING_COL", "DATETIME_COL", "DATE_COL"]


def _olap_code(c):
    c = c.lower()
    if "datetime" in c:
        return 12
    if "date" in c:
        return 10
    if "decimal" in c:
        return 246
    if "double" in c:
        return 5
    if "float" in c:
        return 4
    if re.search(r"bigint|largeint", c):
        return 8
    if re.search(r"int|boolean", c):
        return 3
    return 253


def _seed_olap(srv):
    rows = [tuple(_value_for(c, i) for c in _OLAP_COLS)
            for i in range(2)]
    srv.tables["e2e_table_source"] = (
        _OLAP_COLS, [_olap_code(c) for c in _OLAP_COLS], rows)
    return rows


def test_jdbc_starrocks_confs(spark, monkeypatch):
    """jdbc_starrocks_source_to_sink.conf + jdbc_starrocks_dialect.conf
    (compatible_mode=starrocks): both legs over the FE's mysql port."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    srv, port, stop = start_mini_mysql("root", "")
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"e2e_starRocksdb=tcp://127.0.0.1:{port}")
    try:
        rows = _seed_olap(srv)
        for conf in ("jdbc_starrocks_source_to_sink.conf",
                     "jdbc_starrocks_dialect.conf"):
            JobEngine(spark).run(JobSpec.from_file(_find_conf(conf)))
        ins = " ".join(s for s in srv.statements
                       if s.upper().lstrip().startswith("INSERT"))
        assert "e2e_table_sink" in ins
        assert str(rows[0][_OLAP_COLS.index("STRING_COL")]) in ins
    finally:
        stop()


def test_doris_jdbc_to_doris_conf(spark, monkeypatch):
    """doris-jdbc-to-doris.conf: jdbc source over the FE mysql port
    (9030) into the Doris stream-load sink (8030)."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql
    from seatunnel_spark.testing.rest_servers import start_mini_streamload

    srv, port, stop = start_mini_mysql("root", "")
    loads, sl_port, sl_stop = start_mini_streamload()
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_HOST_ALIASES",
        f"doris_e2e:9030=tcp://127.0.0.1:{port},"
        f"doris_e2e:8030=http://127.0.0.1:{sl_port}")
    try:
        _seed_olap(srv)
        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("doris-jdbc-to-doris.conf")))
        rows = loads.get(("test", "e2e_table_sink"), [])
        assert len(rows) == 2, loads.keys()
        assert {r["STRING_COL"] for r in rows} == {"s0_STRING_C",
                                                   "s1_STRING_C"}
    finally:
        stop()
        sl_stop()


def test_selectdb_jdbc_to_selectdb_conf(spark, monkeypatch):
    """selectdb-jdbc-to-selectdb.conf: jdbc source (FE mysql port) into
    the SelectDBCloud staged-load sink (copy/upload 307 redirect +
    COPY INTO)."""
    import json as _json

    from seatunnel_spark.testing.mysql_server import start_mini_mysql
    from seatunnel_spark.testing.misc_servers import start_mini_selectdb

    srv, port, stop = start_mini_mysql("admin", "")
    state, sd_port, sd_stop = start_mini_selectdb()
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_HOST_ALIASES",
        f"selectdb_e2e:9030=tcp://127.0.0.1:{port},"
        f"selectdb_e2e:8030=http://127.0.0.1:{sd_port}")
    try:
        _seed_olap(srv)
        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("selectdb-jdbc-to-selectdb.conf")))
        staged = [_json.loads(l) for body in state["files"].values()
                  for l in body.decode().splitlines()]
        assert len(staged) == 2
        assert any("COPY INTO test.e2e_table_sink" in q["sql"]
                   for q in state["queries"])
    finally:
        stop()
        sd_stop()


def test_jdbc_fake_to_oceanbase_sink_conf(spark, monkeypatch):
    """jdbc_fake_to_oceanbase_sink.conf: FakeSource into the oceanbase
    mysql-mode url with compatible_mode=mysql generated SQL."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    srv, port, stop = start_mini_mysql("root@test", "")
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"e2e_oceanbase_vector=tcp://127.0.0.1:{port}")
    try:
        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("jdbc_fake_to_oceanbase_sink.conf")))
        ins = [s for s in srv.statements
               if s.upper().lstrip().startswith("INSERT")]
        assert ins and "simple_example" in " ".join(ins)
    finally:
        stop()


def test_jdbc_oceanbase_milvus_pair_confs(spark, monkeypatch):
    """jdbc_oceanbase_source_and_milvus_sink.conf +
    jdbc_milvus_source_and_oceanbase_sink.conf: the vector round-trip
    between the oceanbase mysql-mode wire and Milvus REST."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql
    from seatunnel_spark.testing.rest_servers import start_mini_milvus

    srv, port, stop = start_mini_mysql("root@test", "")
    state, mv_port, mv_stop = start_mini_milvus()
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_HOST_ALIASES",
        f"e2e_oceanbase_vector=tcp://127.0.0.1:{port},"
        f"milvus-e2e=http://127.0.0.1:{mv_port}")
    try:
        _seed_mysql(srv, "simple_example", ["id", "c1", "c2"])
        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("jdbc_oceanbase_source_and_milvus_sink.conf")))
        assert len(state[("default", "simple_example")]) == 2

        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("jdbc_milvus_source_and_oceanbase_sink.conf")))
        ins = " ".join(s for s in srv.statements
                       if s.upper().lstrip().startswith("INSERT"))
        assert ins
    finally:
        stop()
        mv_stop()


def test_jdbc_sqlserver_source_to_sink_conf(spark, monkeypatch):
    """jdbc_sqlserver_source_to_sink.conf UNMODIFIED over the TDS wire:
    query-shaped source read (TOP-0 schema probe + full fetch) into a
    generated INSERT sink targeting the declared database-qualified
    path [master].[dbo].[sink]."""
    import datetime
    from decimal import Decimal

    from seatunnel_spark.testing.tds_server import start_mini_sqlserver

    srv, port, stop = start_mini_sqlserver("SA",
                                           "A_Str0ng_Required_Password")
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"sqlserver=tcp://127.0.0.1:{port}")
    try:
        srv.tables["source"] = (
            ["id", "name", "score", "born"],
            ["int", "nvarchar(50)", "decimal(10,2)", "datetime2(3)"],
            [(1, "ann", Decimal("9.50"),
              datetime.datetime(2024, 3, 19, 12, 0, 1)),
             (2, "bob", Decimal("7.25"),
              datetime.datetime(2024, 3, 19, 12, 0, 2))])
        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("jdbc_sqlserver_source_to_sink.conf")))
        ins = [s for s in srv.statements
               if s.upper().lstrip().startswith("INSERT")]
        assert ins
        blob = " ".join(ins)
        assert "ann" in blob and "bob" in blob and "9.50" in blob
        assert '"master"."dbo"."sink"' in blob or \
            "master.dbo.sink" in blob.replace('"', "")
    finally:
        stop()


def test_jdbc_hive_source_and_assert_conf(spark, monkeypatch):
    """jdbc_hive_source_and_assert.conf UNMODIFIED over the HiveServer2
    thrift wire (TCLIService via SASL-PLAIN framing): query-shaped read
    with columnar TRowSet decode; hive-jdbc's qualified column labels
    (table.column) feed the Assert field rules verbatim."""
    import datetime
    from decimal import Decimal

    from seatunnel_spark.testing.hive_thrift_server import start_mini_hs2

    srv, port, stop = start_mini_hs2("root", "")
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"e2ehivejdbc=tcp://127.0.0.1:{port}")
    try:
        q = "hive_e2e_source_table"
        row = (2, 1, 1234567890, 32767, 127, 123.45, 123.45, 67.89,
               "Hello, Hive", "CharCol   ", "VarcharCol", True,
               datetime.date(2023, 9, 4),
               datetime.datetime(2023, 9, 4, 10, 30, 0),
               Decimal("42.10"), Decimal("42.12"))
        srv.tables[q] = (
            [f"{q}.int_column", f"{q}.integer_column",
             f"{q}.bigint_column", f"{q}.smallint_column",
             f"{q}.tinyint_column", f"{q}.double_column",
             f"{q}.double_precision_column", f"{q}.float_column",
             f"{q}.string_column", f"{q}.char_column",
             f"{q}.varchar_column", f"{q}.boolean_column",
             f"{q}.date_column", f"{q}.timestamp_column",
             f"{q}.decimal_column", f"{q}.numeric_column"],
            ["int", "int", "bigint", "smallint", "tinyint", "double",
             "double", "float", "string", "char(10)", "varchar(20)",
             "boolean", "date", "timestamp", "decimal(10,2)",
             "decimal(10,2)"],
            [row, row, row])
        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("jdbc_hive_source_and_assert.conf")))
        assert any("hive_e2e_source_table" in s for s in srv.statements)
    finally:
        stop()


def test_jdbc_gbase8a_source_to_assert_conf(spark, monkeypatch):
    """jdbc_gbase8a_source_to_assert.conf UNMODIFIED: GBase 8a speaks
    the MySQL client protocol (its JDBC driver is Connector/J-derived),
    so the jdbc:gbase url rides the mysql wire client; 100 rows into
    the Assert MIN_ROW/MAX_ROW rules."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    srv, port, stop = start_mini_mysql("root", "root")
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"e2e_gbase8aDb=tcp://127.0.0.1:{port}")
    try:
        cols = ["varchar_10_col", "char_10_col", "text_col",
                "decimal_col", "float_col", "int_col", "tinyint_col",
                "smallint_col", "double_col", "bigint_col", "date_col",
                "timestamp_col", "datetime_col", "blob_col"]
        codes = [_mysql_code(c) for c in cols]
        rows = [tuple(f"2024-03-19 12:00:{i % 60:02d}"
                      if ("datetime" in c or "timestamp" in c)
                      else _value_for(c, i % 10) for c in cols)
                for i in range(100)]
        srv.tables["e2e_table_source"] = (cols, codes, rows)
        JobEngine(spark).run(JobSpec.from_file(
            _find_conf("jdbc_gbase8a_source_to_assert.conf")))
        assert any("e2e_table_source" in s for s in srv.statements)
    finally:
        stop()


def _seed_db2(srv):
    import datetime
    from decimal import Decimal

    cols = ["C_BOOLEAN", "C_SMALLINT", "C_INT", "C_INTEGER", "C_BIGINT",
            "C_DECIMAL", "C_DEC", "C_NUMERIC", "C_NUM", "C_REAL",
            "C_FLOAT", "C_DOUBLE", "C_DOUBLE_PRECISION", "C_CHAR",
            "C_VARCHAR", "C_BINARY", "C_VARBINARY", "C_DATE"]
    decls = ["boolean", "smallint", "int", "int", "bigint",
             "decimal(10,2)", "decimal(10,2)", "decimal(10,2)",
             "decimal(10,2)", "real", "double", "double", "double",
             "char(8)", "varchar(100)", "binary(4)", "varbinary(50)",
             "date"]
    rows = [(i % 2 == 0, i, 100 + i, 200 + i, 10_000_000_000 + i,
             Decimal(f"{i}.25"), Decimal(f"{i}.50"), Decimal(f"{i}.75"),
             Decimal(f"{i}.00"), i / 2, i * 1.5, i * 2.5, i * 3.5,
             f"ch{i}", f"varchar_{i}", b"\x00\x01\x02\x03", b"\xff\xfe",
             datetime.date(2024, 3, 19)) for i in range(5)]
    srv.tables["SOURCE"] = (cols, decls, rows)


@pytest.mark.parametrize("conf,expect", [
    ("jdbc_db2_source_and_sink.conf", "INSERT"),
    ("jdbc_db2_source_and_sink_upsert.conf", "MERGE"),
])
def test_jdbc_db2_confs(spark, monkeypatch, conf, expect):
    """jdbc_db2 confs UNMODIFIED over the DRDA wire (Open Group spec
    subset: EXCSAT/ACCSEC/SECCHK EBCDIC auth, ACCRDB, PRPSQLSTT +
    OPNQRY/CNTQRY paged FD:OCA row decode incl. packed-BCD decimals,
    EXCSQLIMM DML): 18-column source read into the explicit INSERT /
    generated MERGE upsert sink."""
    from seatunnel_spark.testing.drda_server import start_mini_db2

    srv, port, stop = start_mini_db2("db2inst1", "123456", "E2E")
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"db2-e2e=tcp://127.0.0.1:{port}")
    try:
        _seed_db2(srv)
        JobEngine(spark).run(JobSpec.from_file(_find_conf(conf)))
        hits = [s for s in srv.statements
                if s.upper().startswith(expect)]
        assert len(hits) == 5 if expect == "INSERT" else hits
        blob = " ".join(hits)
        assert "varchar_4" in blob and "SINK" in blob
        if expect == "MERGE":
            assert "C_INT" in blob  # the conf's primary key drives it
    finally:
        stop()


def test_drda_auth_failure(spark, monkeypatch):
    from seatunnel_spark.drda_wire import DrdaClient, DrdaError
    from seatunnel_spark.testing.drda_server import start_mini_db2

    srv, port, stop = start_mini_db2("db2inst1", "123456", "E2E")
    try:
        with pytest.raises(DrdaError, match="security check"):
            DrdaClient("127.0.0.1", port, "db2inst1", "bad", "E2E")
        assert srv.auth_failures == 1
    finally:
        stop()


def test_jdbc_vertica_source_and_sink_conf(spark, monkeypatch):
    """jdbc_vertica_source_and_sink.conf UNMODIFIED: Vertica's native
    protocol is a pg-v3 derivative (3.5 startup word, same message
    grammar — de-facto public via the Apache-2.0 vertica-python
    driver); the mini server REQUIRES the 3.5 version word, so a stock
    pg client cannot pass, proving the dialect is really spoken."""
    from seatunnel_spark.pg_wire import PgClient, VerticaClient
    from seatunnel_spark.testing.pg_server import start_mini_pg

    pg, port, stop = start_mini_pg("vertica_user", "vertica_pw")
    pg.required_protocol = (3 << 16) | 5
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"e2e_vertica=tcp://127.0.0.1:{port}")
    try:
        conf = _find_conf("jdbc_vertica_source_and_sink.conf")
        text = open(conf).read()
        import re as _re

        user = _re.search(r'user\s*=\s*"?(\w+)', text).group(1)
        pw_m = _re.search(r'password\s*=\s*"([^"]*)"', text)
        pw = pw_m.group(1) if pw_m else ""
        pg.users = {user: pw}
        _seed_pg(pg, "select id, name, age from e2e_table_source")
        # a stock 3.0 client is rejected by the vertica-mode server
        with pytest.raises(Exception):
            PgClient("127.0.0.1", port, user, pw, "db").query("SELECT 1")
        cl = VerticaClient("127.0.0.1", port, user, pw, "db")
        cl.close()
        JobEngine(spark).run(JobSpec.from_file(conf))
        ins = [s for s in pg.statements
               if s.upper().lstrip().startswith("INSERT")]
        assert ins and "e2e_table_sink" in " ".join(ins)
    finally:
        stop()
