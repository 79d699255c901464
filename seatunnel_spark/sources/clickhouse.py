"""ClickHouse source/sink over the public HTTP interface (port 8123).

Reference: connector-clickhouse (config: host, database, sql, username/
password, bulk_size, primary_key, support_upsert,
allow_experimental_lightweight_delete, schema_save_mode ×
data_save_mode with save_mode_create_template).

Spark shape: the source executes the query once per split —
ClickHouse parallelizes internally, and result pages stream through
mapInPandas; the sink POSTs `INSERT INTO ... FORMAT JSONEachRow`
batches per partition (the same wire format clickhouse-client uses),
with -D rows becoming lightweight DELETEs when enabled.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sinks.base import Sink
from seatunnel_spark.sources.base import Source
from seatunnel_spark.types import ROW_KIND_COL, TABLE_ID_COL, parse_schema


def ch_exec(base: str, query: str, body: bytes | None = None,
            user: str | None = None, password: str | None = None,
            database: str | None = None, fmt: str | None = None,
            timeout: float = 120.0) -> bytes:
    qs = {"query": query + (f" FORMAT {fmt}" if fmt else "")}
    if database:
        qs["database"] = database
    url = f"{base}/?{urllib.parse.urlencode(qs)}"
    headers = {}
    if user:
        headers["X-ClickHouse-User"] = user
        headers["X-ClickHouse-Key"] = password or ""
    req = urllib.request.Request(url, data=body if body is not None else
                                 (b"" if fmt is None else None),
                                 headers=headers,
                                 method="POST" if body is not None or
                                 fmt is None else "GET")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.read()


class ClickhouseSource(Source):
    NAME = "Clickhouse"

    def read(self, spark: SparkSession) -> DataFrame:
        from seatunnel_spark.sources.mongodb import _convert

        host = self.require("host")
        host = host if "://" in str(host) else f"http://{host}"
        base = apply_host_aliases(str(host))
        sql = self.require("sql")
        db = self.opt("database")
        user, pw = self.opt("username"), self.opt("password")
        fields = (self.opt("schema") or {}).get("fields")
        if not fields:
            # infer from a LIMIT 0 probe (JSON meta carries types)
            probe = json.loads(ch_exec(base, f"SELECT * FROM ({sql}) LIMIT 0",
                                       None, user, pw, db, "JSON"))
            fields = {m["name"]: _ch_to_dsl(m["type"])
                      for m in probe.get("meta", [])}
        schema = parse_schema(fields)
        fields_json = schema.jsonValue()

        one = spark.createDataFrame([(0,)], "i int").coalesce(1)

        def run(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields_json)
            names = [(f.name, f.dataType) for f in sch.fields]
            # guard on the marker row: mapInPandas invokes this once per
            # PARTITION, including empty ones
            for pdf in batches:
                for _ in pdf["i"]:
                    out = json.loads(ch_exec(base, sql, None, user, pw,
                                             db, "JSON"))
                    recs = [tuple(_convert(row.get(n), dt)
                                  for n, dt in names)
                            for row in out.get("data", [])]
                    yield (pd.DataFrame.from_records(
                        recs, columns=[n for n, _ in names])
                        if recs else pd.DataFrame(
                        {n: [] for n, _ in names}))

        return map_in_pandas(one, run, schema)


_CH_TYPES = {
    "String": "string", "UInt8": "smallint", "Int8": "tinyint",
    "UInt16": "int", "Int16": "smallint", "UInt32": "bigint",
    "Int32": "int", "UInt64": "bigint", "Int64": "bigint",
    "Float32": "float", "Float64": "double", "Bool": "boolean",
    "Date": "date", "DateTime": "timestamp",
}


def _ch_to_dsl(t: str) -> str:
    t = t.replace("Nullable(", "").rstrip(")")
    base = t.split("(")[0]
    if base == "Decimal":
        return "decimal" + t[len("Decimal"):].replace(" ", "")
    return _CH_TYPES.get(base, "string")


def _spark_to_ch(dt: T.DataType) -> str:
    if isinstance(dt, T.StringType):
        return "String"
    if isinstance(dt, T.BooleanType):
        return "Bool"
    if isinstance(dt, (T.ByteType,)):
        return "Int8"
    if isinstance(dt, T.ShortType):
        return "Int16"
    if isinstance(dt, T.IntegerType):
        return "Int32"
    if isinstance(dt, T.LongType):
        return "Int64"
    if isinstance(dt, T.FloatType):
        return "Float32"
    if isinstance(dt, T.DoubleType):
        return "Float64"
    if isinstance(dt, T.DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.DateType):
        return "Date"
    if isinstance(dt, T.TimestampType):
        return "DateTime64(3)"
    return "String"


class ClickhouseSink(Sink):
    NAME = "Clickhouse"
    table_groups = None
    input_name = "sink"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        if self.table_groups:
            for tid, tdf in self.table_groups.items():
                sub = ClickhouseSink(self.options)
                sub.input_name = tid
                sub.write(tdf)
            return
        host = self.require("host")
        host = host if "://" in str(host) else f"http://{host}"
        base = apply_host_aliases(str(host))
        db = self.opt("database", "default")
        table = str(self.require("table")).replace(
            "${table_name}", self.input_name.split(".")[-1])
        user, pw = self.opt("username"), self.opt("password")
        bulk = int(self.opt("bulk_size", 20000))
        pk = self.opt("primary_key")
        light_delete = bool(self.opt("allow_experimental_lightweight_delete"))

        # savemodes (DefaultSaveModeHandler analog)
        schema_mode = str(self.opt("schema_save_mode",
                                   "CREATE_SCHEMA_WHEN_NOT_EXIST")).upper()
        data_mode = str(self.opt("data_save_mode", "APPEND_DATA")).upper()
        cols_ddl = ", ".join(
            f"`{f.name}` {_spark_to_ch(f.dataType)}"
            for f in df.schema.fields
            if f.name not in (ROW_KIND_COL, TABLE_ID_COL))
        template = self.opt("save_mode_create_template") or (
            f"CREATE TABLE IF NOT EXISTS `{db}`.`{table}` ({cols_ddl}) "
            f"ENGINE = MergeTree() ORDER BY {pk or 'tuple()'}")
        # SaveModePlaceHolder vocabulary (sink-options-placeholders.md):
        # custom templates carry ${database}/${table}/${rowtype_fields}/
        # ${rowtype_primary_key}/${comment}
        for ph, val in (("${database}", db), ("${table}", table),
                        ("${table_name}", table),
                        ("${rowtype_fields}", cols_ddl),
                        ("${rowtype_primary_key}", pk or ""),
                        ("${comment}", str(self.opt("comment", "")))):
            template = template.replace(ph, str(val))
        exists = ch_exec(base, f"EXISTS TABLE `{db}`.`{table}`", None, user,
                         pw, None, "TabSeparated").strip() == b"1"
        if schema_mode == "ERROR_WHEN_SCHEMA_NOT_EXIST" and not exists:
            raise ValueError(f"Clickhouse sink: table {db}.{table} missing")
        if schema_mode == "RECREATE_SCHEMA" and exists:
            ch_exec(base, f"DROP TABLE `{db}`.`{table}`", None, user, pw)
            exists = False
        if not exists:
            ch_exec(base, template, None, user, pw)
        elif data_mode == "DROP_DATA":
            ch_exec(base, f"TRUNCATE TABLE `{db}`.`{table}`", None, user, pw)
        elif data_mode == "ERROR_WHEN_DATA_EXISTS":
            n = ch_exec(base, f"SELECT count() FROM `{db}`.`{table}`", None,
                        user, pw, None, "TabSeparated").strip()
            if n and int(n) > 0:
                raise ValueError(f"Clickhouse sink: {db}.{table} has data")

        has_kind = ROW_KIND_COL in df.columns
        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL) if c in df.columns]

        pks = [c.strip().strip("`") for c in str(pk or "").split(",")
               if c.strip()]
        keyed = bool(pks) and has_kind

        def write_partition(rows):
            from seatunnel_spark.sinks.streamload import _jsonable

            buf: list[str] = []

            def flush():
                if not buf:
                    return
                ch_exec(base,
                        f"INSERT INTO `{db}`.`{table}` FORMAT JSONEachRow",
                        ("\n".join(buf) + "\n").encode(), user, pw)
                buf.clear()

            def delete_by_key(d):
                flush()  # keep ordering vs pending inserts
                conds = []
                for k in pks:
                    v = d.get(k)
                    if v is None:
                        conds.append(f"`{k}` IS NULL")
                        continue
                    if isinstance(v, bool):
                        lit = "1" if v else "0"
                    elif isinstance(v, (int, float)):
                        lit = repr(v)
                    else:
                        # quote everything else (str/date/datetime/
                        # decimal), escaping backslash + single quote —
                        # unquoted non-numerics are invalid SQL and
                        # unescaped quotes are an injection surface
                        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
                        lit = f"'{s}'"
                    conds.append(f"`{k}` = {lit}")
                ch_exec(base, f"DELETE FROM `{db}`.`{table}` "
                              f"WHERE {' AND '.join(conds)}", b"", user, pw)

            for row in rows:
                d = row.asDict(recursive=True)
                kind = d.get(ROW_KIND_COL, "+I") if has_kind else "+I"
                for c in meta:
                    d.pop(c, None)
                if kind in ("-D", "-U"):
                    # -U deletes its (possibly different) key like -D —
                    # a pk-changing update drops the old row; a
                    # pk-stable one is re-inserted by its +U
                    if keyed:
                        delete_by_key(d)
                    continue
                if keyed:
                    # upsert = delete-then-insert per key: the primary-
                    # key contract a ReplacingMergeTree gives the
                    # reference after merges, made immediate here
                    delete_by_key(d)
                buf.append(json.dumps({k: _jsonable(v)
                                       for k, v in d.items()}))
                if len(buf) >= bulk:
                    flush()
            flush()

        df.foreachPartition(write_partition)


__all__ = ["ClickhouseSource", "ClickhouseSink", "ch_exec"]
