"""MySQL-CDC end-to-end over a debezium replay feed: the reference's
own cdc e2e confs run unmodified (connector-cdc-mysql-e2e +
connector-elasticsearch-e2e resources), with the binlog replaced by a
replay directory — the same decode/stitch/changelog path a Kafka-fed
deployment uses."""

import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import reference_glob
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec
from seatunnel_spark.sources.cdc_replay import CdcReplaySource, apply_ddl
from seatunnel_spark.types import EVENT_TS_COL, ROW_KIND_COL, TABLE_ID_COL

_CDC_E2E = ("/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
            "connector-cdc-mysql-e2e/src/test/resources")
_ES_E2E = ("/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
           "connector-elasticsearch-e2e/src/test/resources/elasticsearch")


def _ev(op, table, pos, ts, before=None, after=None, db="mysql_cdc"):
    return json.dumps({"before": before, "after": after, "op": op,
                       "ts_ms": ts,
                       "source": {"db": db, "table": table, "pos": pos}})


@pytest.fixture()
def replay_dir(tmp_path):
    """Feed for mysql_cdc.mysql_cdc_e2e_source_table (snapshot op=r
    rows + inserts/updates/deletes — the DML the reference IT runs
    against MySQL)."""
    t = tmp_path / "mysql_cdc.mysql_cdc_e2e_source_table"
    t.mkdir(parents=True)
    lines = []
    for i in range(1, 4):  # snapshot phase (debezium op=r)
        lines.append(_ev("r", "mysql_cdc_e2e_source_table", 100 + i, 1000 + i,
                         after={"id": i, "f_int": i * 10, "f_varchar": f"v{i}"}))
    lines.append(_ev("c", "mysql_cdc_e2e_source_table", 200, 2000,
                     after={"id": 4, "f_int": 40, "f_varchar": "v4"}))
    lines.append(_ev("u", "mysql_cdc_e2e_source_table", 210, 2100,
                     before={"id": 2, "f_int": 20, "f_varchar": "v2"},
                     after={"id": 2, "f_int": 21, "f_varchar": "v2b"}))
    lines.append(_ev("d", "mysql_cdc_e2e_source_table", 220, 2200,
                     before={"id": 1, "f_int": 10, "f_varchar": "v1"}))
    (t / "changelog.jsonl").write_text("\n".join(lines) + "\n")
    (t / "schema.json").write_text(json.dumps(
        {"id": "int", "f_int": "int", "f_varchar": "string"}))
    return str(tmp_path)


def test_batch_read_decodes_changelog(spark, replay_dir):
    src = CdcReplaySource({
        "replay.dir": replay_dir,
        "table-names": ["mysql_cdc.mysql_cdc_e2e_source_table"],
    })
    df = src.read(spark)
    rows = {(r["id"], r[ROW_KIND_COL]) for r in df.collect()}
    assert rows == {(1, "+I"), (2, "+I"), (3, "+I"), (4, "+I"),
                    (2, "-U"), (2, "+U"), (1, "-D")}
    ts = {r["id"]: r[EVENT_TS_COL] for r in df.filter("__row_kind = '+U'").collect()}
    assert ts == {2: 2100}
    assert df.select(TABLE_ID_COL).distinct().collect()[0][0] == \
        "mysql_cdc.mysql_cdc_e2e_source_table"


def test_final_state_after_replay(spark, replay_dir):
    from seatunnel_spark.sources.cdc import final_state

    src = CdcReplaySource({
        "replay.dir": replay_dir,
        "table-names": ["mysql_cdc.mysql_cdc_e2e_source_table"],
    })
    df = src.read(spark).drop(EVENT_TS_COL, TABLE_ID_COL)
    state = final_state(df, ["id"], "__offset")
    got = {r["id"]: (r["f_int"], r["f_varchar"]) for r in state.collect()}
    assert got == {2: (21, "v2b"), 3: (30, "v3"), 4: (40, "v4")}


def test_metadata_trans_conf_runs_unmodified(spark, replay_dir, monkeypatch):
    """mysqlcdc_to_metadata_trans.conf: MySQL-CDC -> Metadata transform
    (Database/Table/RowKind/EventTime/Delay) -> Assert NOT_NULL rules,
    STREAMING (the IT submits, asserts row counts, cancels)."""
    monkeypatch.setenv("SEATUNNEL_SPARK_CDC_REPLAY", replay_dir)
    spec = JobSpec.from_file(f"{_CDC_E2E}/mysqlcdc_to_metadata_trans.conf")
    spec.env["streaming.await.timeout"] = 10
    try:
        JobEngine(spark).run(spec)
    finally:
        for q in spark.streams.active:
            q.stop()


def test_mysqlcdc_to_elasticsearch_schema_change_conf(spark, tmp_path,
                                                      monkeypatch):
    """mysqlcdc_to_elasticsearch_with_schema_change.conf: shop.products
    feed including ALTER TABLE DDL events; new columns decode (older
    events null) and ES dynamic mapping evolves — the reference IT's
    schema-evolution assertion (MysqlCDCIT add_columns path)."""
    from seatunnel_spark.testing.es_server import start_mini_es

    server, port, stop = start_mini_es()
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"elasticsearch=http://127.0.0.1:{port}")
    t = tmp_path / "shop.products"
    t.mkdir(parents=True)
    lines = [
        _ev("r", "products", 10, 1000, db="shop",
            after={"id": 101, "name": "scooter",
                   "description": "Small 2-wheel scooter", "weight": 3.14}),
        _ev("r", "products", 11, 1001, db="shop",
            after={"id": 102, "name": "car battery",
                   "description": "12V car battery", "weight": 8.1}),
        json.dumps({"source": {"db": "shop", "table": "products", "pos": 20},
                    "ts_ms": 1500,
                    "ddl": "ALTER TABLE products ADD COLUMN add_column1 "
                           "varchar(64) NOT NULL DEFAULT 'yy'"}),
        _ev("c", "products", 30, 2000, db="shop",
            after={"id": 103, "name": "hammer", "description": "12oz",
                   "weight": 0.75, "add_column1": "yy"}),
    ]
    (t / "changelog.jsonl").write_text("\n".join(lines) + "\n")
    (t / "schema.json").write_text(json.dumps(
        {"id": "int", "name": "string", "description": "string",
         "weight": "float"}))
    monkeypatch.setenv("SEATUNNEL_SPARK_CDC_REPLAY", str(tmp_path))

    spec = JobSpec.from_file(
        f"{_ES_E2E}/mysqlcdc_to_elasticsearch_with_schema_change.conf")
    spec.env["streaming.await.timeout"] = 10
    try:
        JobEngine(spark).run(spec)
    finally:
        for q in spark.streams.active:
            q.stop()
        stop()
    docs = server.indices["schema_change_index"]["docs"]
    by_id = {d["id"]: d for d in docs.values()}
    assert set(by_id) == {101, 102, 103}
    assert by_id[103]["add_column1"] == "yy"
    assert by_id[101]["add_column1"] is None  # pre-DDL event, evolved schema
    # ES dynamic mapping picked up the evolved column
    assert "add_column1" in server.indices["schema_change_index"]["mapping"]


def test_apply_ddl_forms():
    base = {"id": "int", "name": "string"}
    assert apply_ddl(base, "ALTER TABLE t ADD COLUMN age int")["age"] == "int"
    assert "name" not in apply_ddl(base, "ALTER TABLE t DROP COLUMN name")
    out = apply_ddl(base, "ALTER TABLE t CHANGE COLUMN name full_name varchar(255)")
    assert "name" not in out and out["full_name"] == "string"
    out = apply_ddl(base, "ALTER TABLE t MODIFY COLUMN id bigint")
    assert out["id"] == "bigint"
    out = apply_ddl(base, "ALTER TABLE t ADD COLUMN f1 decimal(16, 2)")
    assert out["f1"] == "decimal(16, 2)"


def test_snapshot_stitch_with_watermark(spark, tmp_path):
    """Chunked-snapshot handoff: events at or before the snapshot
    watermark are dropped (already reflected), later ones replay."""
    t = tmp_path / "db.acct"
    t.mkdir(parents=True)
    spark.createDataFrame([(1, 100), (2, 200)], "id int, bal int") \
        .write.parquet(str(t / "snapshot.parquet"))
    (t / "watermark").write_text("500")
    lines = [
        _ev("u", "acct", 400, 400, before={"id": 1, "bal": 90},
            after={"id": 1, "bal": 100}),   # pre-watermark: dropped
        _ev("u", "acct", 600, 600, before={"id": 2, "bal": 200},
            after={"id": 2, "bal": 250}),   # post-watermark: applied
    ]
    (t / "changelog.jsonl").write_text("\n".join(lines) + "\n")
    (t / "schema.json").write_text(json.dumps({"id": "int", "bal": "int"}))

    from seatunnel_spark.sources.cdc import final_state

    src = CdcReplaySource({"replay.dir": str(tmp_path),
                           "table-names": ["db.acct"]})
    df = src.read(spark)
    kinds = {(r["id"], r[ROW_KIND_COL], r["bal"]) for r in df.collect()}
    assert (1, "+I", 100) in kinds and (2, "+U", 250) in kinds
    assert (1, "-U", 90) not in kinds  # pre-watermark event dropped
    state = final_state(df.drop(EVENT_TS_COL, TABLE_ID_COL), ["id"], "__offset")
    assert {r["id"]: r["bal"] for r in state.collect()} == {1: 100, 2: 250}


# ---------------------------------------------------------------------------
# LIVE binlog mode: snapshot SELECT + SHOW MASTER STATUS + COM_BINLOG_DUMP
# against the mini MySQL master (no replay dir involved)
# ---------------------------------------------------------------------------

@pytest.fixture()
def live_mysql(monkeypatch):
    from decimal import Decimal

    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    # snapshot state: rows 1..3 (what SELECT * returns), captured at
    # the marked log position
    srv.tables["mysql_cdc_e2e_source_table"] = (
        ["id", "f_int", "f_varchar", "f_decimal"],
        [3, 3, 253, 246],
        [(1, 10, "v1", Decimal("1.10")), (2, 20, "v2", Decimal("2.20")),
         (3, 30, "v3", Decimal("3.30"))])
    cols = [(B.T_LONG, None), (B.T_LONG, None), (B.T_VARCHAR, 100),
            (B.T_NEWDECIMAL, (38, 10))]
    srv.binlog_table("mysql_cdc", "mysql_cdc_e2e_source_table", cols)
    srv.mark_snapshot()
    # concurrent changes AFTER the snapshot watermark
    srv.binlog_insert("mysql_cdc", "mysql_cdc_e2e_source_table",
                      [(4, 40, "v4", Decimal("4.40"))])
    srv.binlog_update("mysql_cdc", "mysql_cdc_e2e_source_table",
                      [((2, 20, "v2", Decimal("2.20")),
                        (2, 200, "v2b", Decimal("22.00")))])
    srv.binlog_delete("mysql_cdc", "mysql_cdc_e2e_source_table",
                      [(3, 30, "v3", Decimal("3.30"))])
    monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                       f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")
    yield srv, port
    stop()


def test_newdecimal_roundtrip_scale_gt_9():
    """Regression: encode_newdecimal must store the fractional part's
    full 9-digit groups FIRST and the leftover group LAST (bin2decimal
    layout) — with the groups swapped, Decimal('1.10') at (38,10)
    round-tripped to 1.0167772160. Exercises scales > 9 on both signs
    and precision 38 (the CDC default decimal(38,10) mapping)."""
    from decimal import Decimal, localcontext

    from seatunnel_spark.mysql_binlog import (decode_newdecimal,
                                              encode_newdecimal)

    cases = [("1.10", 38, 10), ("-3.1415926535", 20, 12),
             ("0.000000001234567891", 38, 18),
             ("123456789123456789.987654321987654321", 38, 18),
             ("999999999.999999999999", 38, 12), ("22.00", 10, 2),
             ("-0.5", 5, 2), ("0", 38, 10)]
    with localcontext() as ctx:
        ctx.prec = 65
        for s, prec, scale in cases:
            d = Decimal(s)
            rt = decode_newdecimal(encode_newdecimal(d, prec, scale),
                                   prec, scale)
            assert rt == d.quantize(Decimal(1).scaleb(-scale)), (s, rt)


def test_live_binlog_stitch(spark, live_mysql):
    """Snapshot + live-tailed binlog events stitch to the correct
    changelog: snapshot rows as +I at the watermark, post-watermark
    inserts/updates/deletes replayed with exact values (decimal via the
    packed NEWDECIMAL codec)."""
    from decimal import Decimal

    src = CdcReplaySource({
        "base-url": "jdbc:mysql://mysql_cdc_e2e:3306/mysql_cdc",
        "username": "st_user_source", "password": "mysqlpw",
        "server-id": 5652,
        "table-names": ["mysql_cdc.mysql_cdc_e2e_source_table"],
    })
    df = src.read(spark)
    rows = df.collect()
    kinds = sorted(r[ROW_KIND_COL] for r in rows)
    assert kinds == ["+I", "+I", "+I", "+I", "+U", "-D", "-U"]

    from seatunnel_spark.sources.cdc import final_state

    final = {r["id"]: r for r in final_state(
        df, ["id"], "__offset").collect()}
    assert set(final) == {1, 2, 4}  # 3 deleted
    assert final[2]["f_int"] == 200 and final[2]["f_varchar"] == "v2b"
    assert final[2]["f_decimal"] == Decimal("22.00")
    assert final[4]["f_varchar"] == "v4"


def test_live_binlog_metadata_trans_conf_runs_unmodified(spark, live_mysql):
    """mysqlcdc_to_metadata_trans.conf runs UNMODIFIED against the mini
    MySQL master with a real binlog dump — no replay dir: the source
    does SELECT snapshot + SHOW MASTER STATUS + COM_BINLOG_DUMP, and
    the Metadata transform + Assert NOT_NULL rules all pass."""
    spec = JobSpec.from_file(f"{_CDC_E2E}/mysqlcdc_to_metadata_trans.conf")
    JobEngine(spark).run(spec)
    srv, _ = live_mysql
    assert any("SHOW MASTER STATUS" in s for s in srv.statements)
    assert any("SELECT * FROM mysql_cdc.mysql_cdc_e2e_source_table" in s
               for s in srv.statements)


def test_live_binlog_full_type_matrix_conf(spark, monkeypatch):
    """mysqlcdc_to_mysql.conf runs UNMODIFIED live: the 42-column type
    matrix table (ddl/mysql_cdc.sql) snapshots over the wire, binlog
    row events decode through every supported column codec
    (ints/unsigned widths, NEWDECIMAL, FLOAT/DOUBLE, VARCHAR/CHAR/
    BLOB/TEXT, DATE/DATETIME2/TIMESTAMP2/TIME2, BIT, ENUM, YEAR), the
    Sql transform projects all 42 fields, and the Jdbc sink upserts
    into the sink table by primary key."""
    import datetime as dt
    from decimal import Decimal

    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    srv.users["st_user_sink"] = "mysqlpw"
    try:
        names = ["id", "f_binary", "f_blob", "f_long_varbinary",
                 "f_longblob", "f_tinyblob", "f_varbinary", "f_smallint",
                 "f_smallint_unsigned", "f_mediumint",
                 "f_mediumint_unsigned", "f_int", "f_int_unsigned",
                 "f_integer", "f_integer_unsigned", "f_bigint",
                 "f_bigint_unsigned", "f_numeric", "f_decimal", "f_float",
                 "f_double", "f_double_precision", "f_longtext",
                 "f_mediumtext", "f_text", "f_tinytext", "f_varchar",
                 "f_date", "f_datetime", "f_timestamp", "f_bit1",
                 "f_bit64", "f_char", "f_enum", "f_mediumblob",
                 "f_long_varchar", "f_real", "f_time", "f_tinyint",
                 "f_tinyint_unsigned", "f_json", "f_year"]
        # text-protocol resultset type codes (SELECT side)
        codes = [3, 254, 252, 252, 252, 252, 253, 2, 2, 9, 9, 3, 3, 3, 3,
                 8, 8, 246, 246, 4, 5, 5, 252, 252, 252, 252, 253, 10, 12,
                 7, 16, 16, 254, 247, 252, 252, 5, 11, 1, 1, 245, 13]
        # binlog column specs (type, metadata) in table column order
        bcols = [(B.T_LONG, None), (B.T_STRING, (B.T_STRING, 64)),
                 (B.T_BLOB, 2), (B.T_BLOB, 3), (B.T_BLOB, 4),
                 (B.T_BLOB, 1), (B.T_VARCHAR, 100), (B.T_SHORT, None),
                 (B.T_SHORT, None), (B.T_INT24, None), (B.T_INT24, None),
                 (B.T_LONG, None), (B.T_LONG, None), (B.T_LONG, None),
                 (B.T_LONG, None), (B.T_LONGLONG, None),
                 (B.T_LONGLONG, None), (B.T_NEWDECIMAL, (10, 0)),
                 (B.T_NEWDECIMAL, (10, 0)), (B.T_FLOAT, None),
                 (B.T_DOUBLE, None), (B.T_DOUBLE, None), (B.T_BLOB, 4),
                 (B.T_BLOB, 3), (B.T_BLOB, 2), (B.T_BLOB, 1),
                 (B.T_VARCHAR, 400), (B.T_DATE, None),
                 (B.T_DATETIME2, 0), (B.T_TIMESTAMP2, 0),
                 (B.T_BIT, (1, 0)), (B.T_BIT, (0, 8)),
                 (B.T_STRING, (B.T_STRING, 4)),
                 (B.T_STRING, (B.T_ENUM, 1)), (B.T_BLOB, 3),
                 (B.T_BLOB, 3), (B.T_DOUBLE, None), (B.T_TIME2, 0),
                 (B.T_TINY, None), (B.T_TINY, None), (B.T_JSON, 4),
                 (B.T_YEAR, None)]

        def mkrow(i):
            return (i, f"bin{i}", f"blob{i}", "lvb", "lb", "tb",
                    f"vb{i}", 100 + i, 200, -50000, 70000, i * 10, 11,
                    12, 13, 2 ** 40 + i, 2 ** 41, Decimal(1000 + i),
                    Decimal(-7), 1.5, 2.25, 3.5, "longtext", "medtext",
                    f"text{i}", "tinytext", f"varchar{i}",
                    dt.date(2024, 3, 19),
                    dt.datetime(2024, 3, 19, 12, 0, i),
                    dt.datetime(2023, 1, 2, 3, 4, 5), 1, 2 ** 33,
                    "c", 2, "mblob", "lvc", 9.75,
                    dt.timedelta(hours=13, minutes=30, seconds=1),
                    -5, 7, None, 2024)

        srv.tables["mysql_cdc_e2e_source_table"] = (
            names, codes, [mkrow(1), mkrow(2)])
        srv.binlog_table("mysql_cdc", "mysql_cdc_e2e_source_table", bcols)
        srv.mark_snapshot()
        srv.binlog_insert("mysql_cdc", "mysql_cdc_e2e_source_table",
                          [mkrow(3)])
        srv.binlog_update("mysql_cdc", "mysql_cdc_e2e_source_table",
                          [(mkrow(1), mkrow(1)[:11] + (999,)
                            + mkrow(1)[12:])])
        srv.binlog_delete("mysql_cdc", "mysql_cdc_e2e_source_table",
                          [mkrow(2)])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")

        spec = JobSpec.from_file(f"{_CDC_E2E}/mysqlcdc_to_mysql.conf")
        JobEngine(spark).run(spec)

        stmts = [s for s in srv.statements
                 if "mysql_cdc_e2e_sink_table" in s]
        assert stmts, "jdbc sink produced no statements"
        blob = " ".join(stmts)
        assert "999" in blob          # the updated f_int value arrived
        assert "varchar3" in blob     # the binlog-inserted row arrived
    finally:
        stop()


def test_live_schema_change_to_jdbc_conf(spark, monkeypatch):
    """mysqlcdc_to_mysql_with_schema_change.conf runs UNMODIFIED live:
    schema-changes.enabled decodes the binlog ALTER into the evolved
    source schema, and the jdbc sink applies the ADD-COLUMN drift to
    the sink table as ALTER TABLE before upserting (the reference's
    schema-evolution sink matrix for jdbc)."""
    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    srv.users["st_user_sink"] = "mysqlpw"
    try:
        cols = ["id", "name", "description", "weight"]
        codes = [3, 253, 253, 5]
        srv.tables["products"] = (cols, codes, [
            (101, "scooter", "Small 2-wheel scooter", 3.14),
            (102, "car battery", "12V car battery", 8.1)])
        # sink table exists with the ORIGINAL schema
        srv.tables["mysql_cdc_e2e_sink_table_with_schema_change"] = (
            cols, codes, [])
        bcols = [(B.T_LONG, None), (B.T_VARCHAR, 400), (B.T_VARCHAR, 2000),
                 (B.T_DOUBLE, None)]
        srv.binlog_table("shop", "products", bcols)
        srv.mark_snapshot()
        srv.binlog_ddl(
            "shop", "ALTER TABLE products ADD COLUMN add_column1 "
                    "varchar(64) NOT NULL DEFAULT 'yy'")
        # post-DDL events carry the extra column
        bcols2 = bcols + [(B.T_VARCHAR, 256)]
        srv.binlog_table("shop", "products", bcols2)
        srv.binlog_insert("shop", "products",
                          [(103, "hammer", "12oz hammer", 0.75, "yy")])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")

        spec = JobSpec.from_file(
            f"{_CDC_E2E}/mysqlcdc_to_mysql_with_schema_change.conf")
        JobEngine(spark).run(spec)

        # the sink targets the declared database-qualified path
        # (JdbcSinkConfig TablePath = database.table)
        alters = [s for s in srv.statements if s.upper().startswith(
            "ALTER TABLE shop.mysql_cdc_e2e_sink_table_with_schema_change"
            .upper())]
        assert alters and "add_column1" in alters[0]
        upserts = [s for s in srv.statements
                   if "INSERT" in s.upper()
                   and "mysql_cdc_e2e_sink_table_with_schema_change" in s]
        assert upserts
        blob = " ".join(upserts)
        assert "add_column1" in blob and "hammer" in blob
        # the ALTER ran before the first upsert
        first_upsert = srv.statements.index(upserts[0])
        assert srv.statements.index(alters[0]) < first_upsert
    finally:
        stop()


def test_live_schema_change_drop_rename_modify_jdbc(spark, monkeypatch):
    """The full schema-evolution contract to jdbc
    (docs/en/concept/schema-evolution.md:9-13): a binlog stream with
    DROP COLUMN + CHANGE(rename) + MODIFY replays on the sink table as
    dialect DDL in stream order, before the upsert — not just the
    frame-diff ADD pass."""
    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    srv.users["st_user_sink"] = "mysqlpw"
    sink_t = "mysql_cdc_e2e_sink_table_with_schema_change"
    try:
        cols = ["id", "name", "description", "weight"]
        codes = [3, 253, 253, 5]
        srv.tables["products"] = (cols, codes, [
            (101, "scooter", "Small 2-wheel scooter", 3.14)])
        srv.tables[sink_t] = (cols, codes, [])
        bcols = [(B.T_LONG, None), (B.T_VARCHAR, 400),
                 (B.T_VARCHAR, 2000), (B.T_DOUBLE, None)]
        srv.binlog_table("shop", "products", bcols)
        srv.mark_snapshot()
        srv.binlog_ddl("shop",
                       "ALTER TABLE products DROP COLUMN description")
        srv.binlog_table("shop", "products",
                         [(B.T_LONG, None), (B.T_VARCHAR, 400),
                          (B.T_DOUBLE, None)])
        srv.binlog_insert("shop", "products", [(103, "hammer", 0.75)])
        srv.binlog_ddl("shop", "ALTER TABLE products CHANGE COLUMN "
                               "weight weight_kg double")
        srv.binlog_ddl("shop", "ALTER TABLE products MODIFY COLUMN "
                               "name varchar(512)")
        srv.binlog_insert("shop", "products", [(104, "wrench", 1.25)])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")

        spec = JobSpec.from_file(
            f"{_CDC_E2E}/mysqlcdc_to_mysql_with_schema_change.conf")
        JobEngine(spark).run(spec)

        alters = [s for s in srv.statements
                  if s.upper().startswith(
                      f"ALTER TABLE shop.{sink_t}".upper())]
        blob = " | ".join(alters)
        assert "DROP COLUMN description" in blob
        assert "CHANGE COLUMN weight weight_kg" in blob
        assert "MODIFY COLUMN name" in blob
        # DDL ordering preserved: drop before rename before modify
        assert blob.index("DROP COLUMN") < blob.index("CHANGE COLUMN") \
            < blob.index("MODIFY COLUMN")
        upserts = [s for s in srv.statements
                   if "INSERT" in s.upper() and sink_t in s]
        assert upserts and "weight_kg" in " ".join(upserts)
        # every ALTER ran before the first upsert
        first_up = srv.statements.index(upserts[0])
        assert all(srv.statements.index(a) < first_up for a in alters)
    finally:
        stop()


def test_live_cdc_to_paimon_schema_change_drop_rename(spark, monkeypatch):
    """DROP + RENAME evolution reaches the lakehouse sink: existing
    rows are REWRITTEN under the renamed column (a frame-diff union
    would strand old values under the old name), the dropped column
    disappears, and the evolved batch merges on top."""
    import shutil

    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.sinks.lakehouse import LakehouseTable
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    shutil.rmtree("/tmp/paimon/mysql_to_paimon", ignore_errors=True)
    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    try:
        # the paimon table pre-exists with the ORIGINAL schema and a row
        # the incoming batch does not touch
        t = LakehouseTable("/tmp/paimon/mysql_to_paimon/products")
        t.commit(spark.createDataFrame(
            [(100, "anvil", "old desc", 9.99)],
            "id int, name string, description string, weight double"))

        cols = ["id", "name", "description", "weight"]
        srv.tables["products"] = (cols, [3, 253, 253, 5], [
            (100, "anvil", "old desc", 9.99),
            (101, "scooter", "2-wheel", 3.14)])
        srv.primary_keys["products"] = ["id"]
        srv.binlog_table("shop", "products",
                         [(B.T_LONG, None), (B.T_VARCHAR, 400),
                          (B.T_VARCHAR, 2000), (B.T_DOUBLE, None)])
        srv.mark_snapshot()
        srv.binlog_ddl("shop",
                       "ALTER TABLE products DROP COLUMN description")
        srv.binlog_ddl("shop", "ALTER TABLE products CHANGE COLUMN "
                               "weight weight_kg double")
        srv.binlog_table("shop", "products",
                         [(B.T_LONG, None), (B.T_VARCHAR, 400),
                          (B.T_DOUBLE, None)])
        srv.binlog_insert("shop", "products", [(103, "hammer", 0.75)])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")

        spec = JobSpec.from_file(
            "/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
            "connector-paimon-e2e/src/test/resources/"
            "mysql_cdc_to_paimon_with_schema_change.conf")
        JobEngine(spark).run(spec)

        got = {r["id"]: r for r in t.read(spark).collect()}
        assert set(got) == {100, 101, 103}
        fields = set(t.read(spark).columns)
        assert "description" not in fields
        assert "weight_kg" in fields and "weight" not in fields
        # untouched pre-existing row: weight value survived the rename
        assert got[100]["weight_kg"] == 9.99
        assert got[103]["weight_kg"] == 0.75
    finally:
        stop()
        shutil.rmtree("/tmp/paimon/mysql_to_paimon", ignore_errors=True)


def test_live_cdc_to_paimon_schema_change_conf(spark, monkeypatch, tmp_path):
    """mysql_cdc_to_paimon_with_schema_change.conf (connector-paimon-e2e,
    STREAMING) runs UNMODIFIED live: binlog tail with a mid-stream
    ALTER, Paimon primary-key table merge, untouched pre-DDL rows read
    the added column as null."""
    import shutil

    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.sinks.lakehouse import LakehouseTable
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    shutil.rmtree("/tmp/paimon/mysql_to_paimon", ignore_errors=True)
    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    try:
        cols = ["id", "name", "description", "weight"]
        srv.tables["products"] = (cols, [3, 253, 253, 5], [
            (101, "scooter", "Small 2-wheel scooter", 3.14)])
        srv.primary_keys["products"] = ["id"]
        bcols = [(B.T_LONG, None), (B.T_VARCHAR, 400),
                 (B.T_VARCHAR, 2000), (B.T_DOUBLE, None)]
        srv.binlog_table("shop", "products", bcols)
        srv.mark_snapshot()
        srv.binlog_ddl("shop", "ALTER TABLE products ADD COLUMN "
                               "add_column1 varchar(64)")
        srv.binlog_table("shop", "products",
                         bcols + [(B.T_VARCHAR, 256)])
        srv.binlog_insert("shop", "products",
                          [(103, "hammer", "12oz", 0.75, "yy")])
        srv.binlog_update(
            "shop", "products",
            [((101, "scooter", "Small 2-wheel scooter", 3.14, None),
              (101, "scooter v2", "3-wheel", 5.17, None))])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")

        spec = JobSpec.from_file(
            "/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
            "connector-paimon-e2e/src/test/resources/"
            "mysql_cdc_to_paimon_with_schema_change.conf")
        JobEngine(spark).run(spec)

        t = LakehouseTable("/tmp/paimon/mysql_to_paimon/products")
        got = {r["id"]: r for r in t.read(spark).collect()}
        assert set(got) == {101, 103}
        assert got[101]["name"] == "scooter v2"
        assert got[101]["add_column1"] is None
        assert got[103]["add_column1"] == "yy"
    finally:
        stop()
        shutil.rmtree("/tmp/paimon/mysql_to_paimon", ignore_errors=True)


@pytest.mark.parametrize("family,conf,table", [
    ("sqlserver",
     "connector-cdc-sqlserver-e2e/src/test/resources/"
     "sqlservercdc_to_metadata_trans.conf",
     "column_type_test.dbo.full_types_custom_primary_key"),
    ("mongodb",
     "connector-cdc-mongodb-e2e/src/test/resources/"
     "mongodbcdc_metadata_trans.conf",
     "inventory.products"),
])
def test_other_cdc_family_metadata_trans_confs(spark, tmp_path, monkeypatch,
                                               family, conf, table):
    """SqlServer-CDC / MongoDB-CDC metadata-trans confs run unmodified
    over the debezium replay feed (the production deployment tails
    SQL Server CT tables / Mongo change streams into the same envelope;
    MongoDB's `collection` option maps to the table list)."""
    t = tmp_path / table
    t.mkdir(parents=True)
    short = table.split(".")[-1]
    db = table.split(".")[0]
    lines = [
        _ev("r", short, 10, 1000, db=db,
            after={"id": 1, "name": "a"} if family == "sqlserver"
            else {"_id": "x1", "name": "scooter",
                  "description": "d", "weight": "3.1"}),
        _ev("c", short, 20, 2000, db=db,
            after={"id": 2, "name": "b"} if family == "sqlserver"
            else {"_id": "x2", "name": "hammer",
                  "description": "d2", "weight": "0.7"}),
    ]
    (t / "changelog.jsonl").write_text("\n".join(lines) + "\n")
    monkeypatch.setenv("SEATUNNEL_SPARK_CDC_REPLAY", str(tmp_path))
    spec = JobSpec.from_file(
        f"/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/{conf}")
    spec.env["streaming.await.timeout"] = 10
    try:
        JobEngine(spark).run(spec)
    finally:
        for q in spark.streams.active:
            q.stop()


def _seed_simple(srv, db, table, rows, extra_events=True):
    from seatunnel_spark import mysql_binlog as B

    cols = ["id", "name"]
    srv.tables[table] = (cols, [3, 253], rows)
    srv.primary_keys[table] = ["id"]
    srv.binlog_table(db, table, [(B.T_LONG, None), (B.T_VARCHAR, 100)])
    return cols


def test_live_multi_table_mode_confs(spark, monkeypatch):
    """mysqlcdc_to_mysql_with_multi_table_mode_{one,two}_table.conf run
    UNMODIFIED live: table-names-config declares per-table keys, the
    jdbc sink fans out per source table via ${table_name} and the
    ${primary_key} placeholder resolves from the declared keys."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    srv.users["st_user_sink"] = "mysqlpw"
    try:
        _seed_simple(srv, "mysql_cdc", "mysql_cdc_e2e_source_table",
                     [(1, "a")])
        _seed_simple(srv, "mysql_cdc", "mysql_cdc_e2e_source_table2",
                     [(2, "b")])
        srv.mark_snapshot()
        srv.binlog_insert("mysql_cdc", "mysql_cdc_e2e_source_table",
                          [(10, "n1")])
        srv.binlog_insert("mysql_cdc", "mysql_cdc_e2e_source_table2",
                          [(20, "n2")])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")
        for conf in ("mysqlcdc_to_mysql_with_multi_table_mode_one_table",
                     "mysqlcdc_to_mysql_with_multi_table_mode_two_table"):
            JobEngine(spark).run(JobSpec.from_file(
                f"{_CDC_E2E}/{conf}.conf"))
        stmts = " ".join(srv.statements)
        assert "mysql_cdc_e2e_source_table" in stmts
        assert "n1" in stmts and "n2" in stmts  # both tables written
    finally:
        stop()


def test_live_wildcards_conf(spark, monkeypatch):
    """mysqlcdc_wildcards_to_mysql.conf runs UNMODIFIED live:
    table-pattern discovery over SHOW DATABASES / SHOW TABLES, sink
    table ${database_name}_${table_name} per discovered table."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    srv.users["st_user_sink"] = "mysqlpw"
    try:
        srv.databases = {"source": ["products", "customers"],
                         "source1": ["orders"], "sink": []}
        _seed_simple(srv, "source", "products", [(1, "p1")])
        _seed_simple(srv, "source", "customers", [(2, "c1")])
        _seed_simple(srv, "source1", "orders", [(3, "o1")])
        srv.mark_snapshot()
        srv.binlog_insert("source", "products", [(11, "p2")])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")
        JobEngine(spark).run(JobSpec.from_file(
            f"{_CDC_E2E}/mysqlcdc_wildcards_to_mysql.conf"))
        stmts = " ".join(s for s in srv.statements
                         if s.upper().startswith("INSERT"))
        # ${database_name}_${table_name} routing per discovered table
        assert "source_products" in stmts
        assert "source_customers" in stmts
        assert "source1_orders" in stmts
        assert "p2" in stmts  # the binlog event arrived
    finally:
        stop()


def test_live_tidb_conf(spark, monkeypatch):
    """tidbcdc_to_tidb.conf runs UNMODIFIED via the MySQL-compatible
    wire (TiDB speaks mysql protocol; singular database-name/table-name
    options map to the table list). NOTE: real TiDB serves changefeeds
    through TiCDC, not binlog dump — production tails a TiCDC->Kafka
    feed through the replay/kafka path; this exercises the conf surface
    and the pipeline shape."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("root", "")
    try:
        _seed_simple(srv, "tidb_cdc", "tidb_cdc_e2e_source_table",
                     [(1, "a")])
        srv.mark_snapshot()
        srv.binlog_insert("tidb_cdc", "tidb_cdc_e2e_source_table",
                          [(2, "b")])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"tidb0=tcp://127.0.0.1:{port}")
        JobEngine(spark).run(JobSpec.from_file(
            "/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
            "connector-cdc-tidb-e2e/src/test/resources/tidb/"
            "tidbcdc_to_tidb.conf"))
        ups = [s for s in srv.statements
               if "tidb_cdc_e2e_sink_table" in s
               and s.upper().startswith("INSERT")]
        assert ups and "b" in " ".join(ups)
    finally:
        stop()


@pytest.mark.parametrize("conf,tables", [
    ("mysqlcdc_to_mysql_with_custom_primary_key",
     ["mysql_cdc_e2e_source_table_1_custom_primary_key",
      "mysql_cdc_e2e_source_table_2_custom_primary_key"]),
    ("mysqlcdc_to_mysql_with_no_primary_key",
     ["mysql_cdc_e2e_source_table_no_primary_key"]),
    ("mysqlcdc_to_mysql_with_disable_exactly_once",
     ["mysql_cdc_e2e_source_table"]),
])
def test_live_mysqlcdc_variant_confs(spark, monkeypatch, conf, tables):
    """The remaining mysqlcdc conf variants run UNMODIFIED live:
    custom primary keys via table-names-config, no-primary-key append
    mode, and exactly_once=false."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    srv.users["st_user_sink"] = "mysqlpw"
    try:
        for t in tables:
            _seed_simple(srv, "mysql_cdc", t, [(1, "a")])
            if "no_primary_key" in t:
                srv.primary_keys.pop(t, None)
        srv.mark_snapshot()
        for t in tables:
            srv.binlog_insert("mysql_cdc", t, [(9, "new9")])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")
        JobEngine(spark).run(JobSpec.from_file(f"{_CDC_E2E}/{conf}.conf"))
        ins = " ".join(s for s in srv.statements
                       if s.upper().startswith("INSERT"))
        assert "new9" in ins
    finally:
        stop()


def test_live_schema_change_exactly_once_conf(spark, monkeypatch):
    """mysqlcdc_to_mysql_with_schema_change_exactly_once.conf: the
    schema-change pipeline with is_exactly_once=true — upserts ride XA
    branches (XA START/END/PREPARE per partition, driver-side XA
    COMMIT), with the ALTER applied before any branch prepares."""
    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    srv.users["st_user_sink"] = "mysqlpw"
    try:
        cols = ["id", "name", "description", "weight"]
        codes = [3, 253, 253, 5]
        srv.tables["products"] = (cols, codes, [(101, "scooter", "sm", 3.14)])
        srv.tables["mysql_cdc_e2e_sink_table_with_schema_change_"
                   "exactly_once"] = (cols, codes, [])
        srv.primary_keys["products"] = ["id"]
        bcols = [(B.T_LONG, None), (B.T_VARCHAR, 400),
                 (B.T_VARCHAR, 2000), (B.T_DOUBLE, None)]
        srv.binlog_table("shop", "products", bcols)
        srv.mark_snapshot()
        srv.binlog_ddl("shop", "ALTER TABLE products ADD COLUMN "
                               "add_column1 varchar(64)")
        srv.binlog_table("shop", "products", bcols + [(B.T_VARCHAR, 256)])
        srv.binlog_insert("shop", "products",
                          [(103, "hammer", "12oz", 0.75, "yy")])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"mysql_cdc_e2e=tcp://127.0.0.1:{port}")
        JobEngine(spark).run(JobSpec.from_file(
            f"{_CDC_E2E}/mysqlcdc_to_mysql_with_schema_change_"
            "exactly_once.conf"))
        xa = [s for s in srv.statements if s.upper().startswith("XA ")]
        assert any("XA PREPARE" in s.upper() for s in xa)
        assert any("XA COMMIT" in s.upper() for s in xa)
        prep_i = next(i for i, s in enumerate(srv.statements)
                      if "XA PREPARE" in s.upper())
        alter_i = next(i for i, s in enumerate(srv.statements)
                       if s.upper().startswith("ALTER TABLE"))
        assert alter_i < prep_i  # DDL before any branch prepares
        ins = " ".join(s for s in srv.statements if "INSERT" in s.upper())
        assert "hammer" in ins and "add_column1" in ins
    finally:
        stop()


def test_oraclecdc_metadata_trans_conf(spark, tmp_path, monkeypatch):
    """oraclecdc_to_metadata_trans.conf runs unmodified over the
    debezium replay feed (Oracle LogMiner tails land in the same
    envelope; no TNS wire client in this environment)."""
    t = tmp_path / "ORCLCDB.DEBEZIUM.FULL_TYPES_NO_PRIMARY_KEY"
    t.mkdir(parents=True)
    lines = [_ev("r", "FULL_TYPES_NO_PRIMARY_KEY", 10 + i, 1000 + i,
                 db="ORCLCDB", after={"ID": i, "VAL_VARCHAR": f"v{i}"})
             for i in range(3)]
    (t / "changelog.jsonl").write_text("\n".join(lines) + "\n")
    monkeypatch.setenv("SEATUNNEL_SPARK_CDC_REPLAY", str(tmp_path))
    spec = JobSpec.from_file(
        "/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
        "connector-cdc-oracle-e2e/src/test/resources/"
        "oraclecdc_to_metadata_trans.conf")
    spec.env["streaming.await.timeout"] = 10
    try:
        JobEngine(spark).run(spec)
    finally:
        for q in spark.streams.active:
            q.stop()


def test_oraclecdc_to_mysql_schema_change_conf(spark, tmp_path,
                                               monkeypatch):
    """oraclecdc_to_mysql_with_schema_change.conf: replay-fed Oracle
    source with a DDL event mid-feed, LIVE mysql jdbc sink — the
    replay path's schema evolution reaches the jdbc sink as ALTER
    TABLE (previously only the live binlog path exercised this)."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    conf = ("/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
            "connector-cdc-oracle-e2e/src/test/resources/"
            "oraclecdc_to_mysql_with_schema_change.conf")
    import re as _re

    text = open(conf).read()
    sink_host = _re.search(r'url\s*=\s*"jdbc:mysql://([^:/"]+)', text)
    assert sink_host, "conf shape changed"
    srv, port, stop = start_mini_mysql("st_user_sink", "mysqlpw")
    try:
        cols = ["ID", "VAL_VARCHAR"]
        srv.tables["FULL_TYPES"] = (cols, [3, 253], [])
        # sink table exists with the ORIGINAL columns -> drift = ALTER
        srv.tables["oracle_cdc_2_mysql_sink_table"] = (cols, [3, 253], [])
        t = tmp_path / "ORCLCDB.DEBEZIUM.FULL_TYPES"
        t.mkdir(parents=True)
        lines = [
            _ev("r", "FULL_TYPES", 10, 1000, db="ORCLCDB",
                after={"ID": 1, "VAL_VARCHAR": "a"}),
            json.dumps({"source": {"db": "ORCLCDB", "table": "FULL_TYPES",
                                   "pos": 20}, "ts_ms": 1500,
                        "ddl": "ALTER TABLE FULL_TYPES ADD COLUMN "
                               "ADD_COL1 varchar(64)"}),
            _ev("c", "FULL_TYPES", 30, 2000, db="ORCLCDB",
                after={"ID": 2, "VAL_VARCHAR": "b", "ADD_COL1": "yy"}),
        ]
        (t / "changelog.jsonl").write_text("\n".join(lines) + "\n")
        (t / "schema.json").write_text(json.dumps(
            {"ID": "int", "VAL_VARCHAR": "string"}))
        monkeypatch.setenv("SEATUNNEL_SPARK_CDC_REPLAY", str(tmp_path))
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"{sink_host.group(1)}=tcp://127.0.0.1:{port}")
        spec = JobSpec.from_file(conf)
        spec.env["streaming.await.timeout"] = 10
        try:
            JobEngine(spark).run(spec)
        finally:
            for q in spark.streams.active:
                q.stop()
        stmts = srv.statements
        alters = [s for s in stmts if s.upper().startswith("ALTER TABLE")
                  and "ADD_COL1" in s.upper()]
        ins = " ".join(s for s in stmts if "INSERT" in s.upper())
        assert alters, stmts
        assert "yy" in ins
    finally:
        stop()


@pytest.mark.parametrize("conf,table,has_pk", [
    ("tidbcdc_to_tidb_with_disable_exactly_once",
     "tidb_cdc_e2e_source_table", True),
    ("tidbcdc_to_tidb_with_no_primary_key",
     "tidb_cdc_e2e_source_table_no_primary_key", False),
])
def test_live_tidb_variant_confs(spark, monkeypatch, conf, table, has_pk):
    """The remaining tidbcdc conf variants run UNMODIFIED via the
    MySQL-compatible wire: exactly_once = false and the
    no-primary-key table (sink keys from the conf's primary_keys)."""
    from seatunnel_spark.testing.mysql_server import start_mini_mysql

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("root", "")
    try:
        _seed_simple(srv, "tidb_cdc", table, [(1, "a")])
        if not has_pk:
            srv.primary_keys.pop(table, None)
        srv.mark_snapshot()
        srv.binlog_insert("tidb_cdc", table, [(2, "b")])
        monkeypatch.setenv("SEATUNNEL_SPARK_HOST_ALIASES",
                           f"tidb0=tcp://127.0.0.1:{port}")
        JobEngine(spark).run(JobSpec.from_file(
            "/root/reference/seatunnel-e2e/seatunnel-connector-v2-e2e/"
            f"connector-cdc-tidb-e2e/src/test/resources/tidb/{conf}.conf"))
        ups = [s for s in srv.statements
               if "tidb_cdc_e2e_sink_table" in s
               and s.upper().startswith("INSERT")]
        assert ups and "b" in " ".join(ups)
    finally:
        stop()


@pytest.mark.parametrize("conf", [
    "mysqlcdc_to_postgres_with_schema_change",
    "mysqlcdc_to_postgres_with_schema_change_exactly_once",
])
def test_live_schema_change_to_postgres_confs(spark, monkeypatch, conf):
    """Cross-family schema evolution: a live MySQL binlog with a
    mid-stream ADD COLUMN lands on a POSTGRES sink (ALTER TABLE over
    the pg wire before upserting), plain and XA exactly-once."""
    from seatunnel_spark import mysql_binlog as B
    from seatunnel_spark.testing.mysql_server import start_mini_mysql
    from seatunnel_spark.testing.pg_server import start_mini_pg

    monkeypatch.delenv("SEATUNNEL_SPARK_CDC_REPLAY", raising=False)
    srv, port, stop = start_mini_mysql("st_user_source", "mysqlpw")
    pg, pg_port, pg_stop = start_mini_pg("postgres", "postgres")
    try:
        cols = ["id", "name", "description", "weight"]
        srv.tables["products"] = (cols, [3, 253, 253, 5], [
            (101, "scooter", "Small 2-wheel scooter", 3.14)])
        srv.primary_keys["products"] = ["id"]
        srv.binlog_table("shop", "products",
                         [(B.T_LONG, None), (B.T_VARCHAR, 400),
                          (B.T_VARCHAR, 2000), (B.T_DOUBLE, None)])
        srv.mark_snapshot()
        srv.binlog_ddl("shop", "ALTER TABLE products ADD COLUMN "
                               "add_column1 varchar(64)")
        srv.binlog_table("shop", "products",
                         [(B.T_LONG, None), (B.T_VARCHAR, 400),
                          (B.T_VARCHAR, 2000), (B.T_DOUBLE, None),
                          (B.T_VARCHAR, 256)])
        srv.binlog_insert("shop", "products",
                          [(103, "hammer", "12oz", 0.75, "yy")])
        # sink table exists with the ORIGINAL schema (probe)
        pg.canned["SELECT * FROM PUBLIC.SINK_TABLE_WITH_SCHEMA_CHANGE"] = (
            cols, [23, 25, 25, 701], [])
        monkeypatch.setenv(
            "SEATUNNEL_SPARK_HOST_ALIASES",
            f"mysql_cdc_e2e=tcp://127.0.0.1:{port},"
            f"postgresql=tcp://127.0.0.1:{pg_port}")
        path = reference_glob("seatunnel-e2e/**/" + conf + ".conf")[0]
        spec = JobSpec.from_file(path)
        spec.env["streaming.await.timeout"] = 10
        try:
            JobEngine(spark).run(spec)
        finally:
            for q in spark.streams.active:
                q.stop()
        stmts = pg.statements
        alters = [s for s in stmts if s.upper().startswith("ALTER TABLE")]
        assert alters and "add_column1" in " ".join(alters)
        ins = " ".join(s for s in stmts if s.upper().startswith("INSERT"))
        assert "hammer" in ins and "add_column1" in ins
        if "exactly_once" in conf:
            blob = " ".join(stmts).upper()
            assert "PREPARE TRANSACTION" in blob \
                and "COMMIT PREPARED" in blob
    finally:
        stop()
        pg_stop()
