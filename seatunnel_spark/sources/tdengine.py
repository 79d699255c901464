"""TDengine source/sink via the taosAdapter REST interface.

Reference: connector-tdengine (TDengineSourceConfig: url
`jdbc:TAOS-RS://host:6041/`, username/password/database/stable —
the reference splits the read per SUB-TABLE of the super-table and
reconstructs tags; sink writes `INSERT INTO ... USING stable TAGS`
batches). `jdbc:TAOS-RS` IS the REST adapter — this client speaks its
`POST /rest/sql` endpoint directly.

Spark shape: sub-table enumeration (SELECT DISTINCT tbname) happens
once on the driver; each sub-table scans in its own task via
mapInPandas — the reference's split-per-subtable, cluster-wide.
"""

from __future__ import annotations

import base64
import json
import re
import urllib.request

from pyspark.sql import DataFrame, SparkSession, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sinks.base import Sink
from seatunnel_spark.sources.base import Source
from seatunnel_spark.types import ROW_KIND_COL, TABLE_ID_COL, parse_schema


def rest_base(url: str) -> str:
    """jdbc:TAOS-RS://host:6041/db -> http://host:6041"""
    m = re.match(r"jdbc:TAOS(?:-RS)?://([^/:]+):?(\d+)?", str(url), re.I)
    if m:
        host, port = m.group(1), m.group(2) or "6041"
        return apply_host_aliases(f"http://{host}:{port}")
    return apply_host_aliases(str(url).rstrip("/"))


def taos_sql(base: str, sql: str, user: str, password: str,
             timeout: float = 60.0) -> dict:
    tok = base64.b64encode(f"{user}:{password}".encode()).decode()
    req = urllib.request.Request(
        f"{base}/rest/sql", data=sql.encode(),
        headers={"Authorization": f"Basic {tok}"}, method="POST")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        out = json.loads(resp.read() or b"{}")
    if out.get("code") not in (0, None):
        raise RuntimeError(f"tdengine sql failed: {out}")
    return out


_TAOS_TYPES = {
    "TIMESTAMP": "timestamp", "BOOL": "boolean", "TINYINT": "tinyint",
    "SMALLINT": "smallint", "INT": "int", "BIGINT": "bigint",
    "FLOAT": "float", "DOUBLE": "double", "VARCHAR": "string",
    "BINARY": "string", "NCHAR": "string",
}


class TDengineSource(Source):
    NAME = "TDengine"

    def read(self, spark: SparkSession) -> DataFrame:
        base = rest_base(self.require("url"))
        user = str(self.opt("username", "root"))
        password = str(self.opt("password", "taosdata"))
        db = self.require("database")
        stable = self.opt("stable")
        fields = (self.opt("schema") or {}).get("fields")

        if stable:
            out = taos_sql(base, f"SELECT DISTINCT tbname FROM "
                                 f"{db}.{stable}", user, password)
            subtables = sorted(r[0] for r in out.get("data", []))
        else:
            subtables = [self.require("table")]
        if not fields:
            probe = taos_sql(base, f"SELECT * FROM {db}.{subtables[0]} "
                                   "LIMIT 0", user, password)
            fields = {m[0]: _TAOS_TYPES.get(str(m[1]).upper(), "string")
                      for m in probe.get("column_meta", [])}
        schema = parse_schema(fields)
        fields_json = schema.jsonValue()

        sdf = spark.createDataFrame([(t,) for t in subtables], "t string") \
            .repartition(max(1, min(len(subtables),
                                    spark.sparkContext.defaultParallelism)))

        def run(batches):
            import pandas as pd

            from seatunnel_spark.sources.mongodb import _convert

            sch = T.StructType.fromJson(fields_json)
            names = [(f.name, f.dataType) for f in sch.fields]
            for pdf in batches:
                for t in pdf["t"]:
                    out = taos_sql(base, f"SELECT * FROM {db}.{t}",
                                   user, password)
                    cols = [m[0] for m in out.get("column_meta", [])]
                    idx = {c: i for i, c in enumerate(cols)}
                    recs = [tuple(_convert(row[idx[n]] if n in idx else None,
                                           dt) for n, dt in names)
                            for row in out.get("data", [])]
                    yield (pd.DataFrame.from_records(
                        recs, columns=[n for n, _ in names])
                        if recs else pd.DataFrame(
                        {n: [] for n, _ in names}))

        return map_in_pandas(sdf, run, schema)


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    if hasattr(v, "isoformat"):
        return f"'{v.isoformat(sep=' ')}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


class TDengineSink(Sink):
    NAME = "TDengine"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        base = rest_base(self.require("url"))
        user = str(self.opt("username", "root"))
        password = str(self.opt("password", "taosdata"))
        db = self.require("database")
        stable = self.opt("stable")
        table = self.opt("table")
        sub_col = self.opt("subtable_column", "tbname")
        tag_cols = self.opt("key_tags") or []
        batch_size = int(self.opt("batch_size", 500))
        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL) if c in df.columns]

        def write_partition(rows):
            stmts: list[str] = []

            def flush():
                if stmts:
                    taos_sql(base, "INSERT INTO " + " ".join(stmts),
                             user, password)
                    stmts.clear()

            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                if stable:
                    sub = str(d.pop(sub_col, None) or table or "t0")
                    tags = [_sql_lit(d.pop(c)) for c in tag_cols if c in d]
                    target = (f"{db}.{sub} USING {db}.{stable} "
                              f"TAGS ({', '.join(tags) or 'NULL'})")
                else:
                    target = f"{db}.{table}"
                cols = ", ".join(d.keys())
                vals = ", ".join(_sql_lit(v) for v in d.values())
                stmts.append(f"{target} ({cols}) VALUES ({vals})")
                if len(stmts) >= batch_size:
                    flush()
            flush()

        df.foreachPartition(write_partition)


__all__ = ["TDengineSource", "TDengineSink", "taos_sql", "rest_base"]
