"""InfluxDB (1.x API) source/sink over stdlib HTTP.

Reference: connector-influxdb (config/SourceConfig.java — url, sql,
split_column + lower/upper_bound + partition_num parallel range
queries, epoch; config/SinkConfig.java — key_time, key_tags,
measurement, batch_size, max_retries) — the reference builds range
predicates per split exactly like this
(source/InfluxdbSourceSplitEnumerator).

Spark shape: splits are range-rewritten SQL strings; each executes
executor-side via mapInPandas (one HTTP /query per split). The sink
serializes line protocol per partition and POSTs /write batches.
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


def _http(url: str, data: bytes | None = None, timeout: float = 60.0):
    req = urllib.request.Request(url, data=data,
                                 method="POST" if data is not None else "GET")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.read()


def influx_query(base: str, db: str, sql: str, auth_qs: str = "",
                 epoch: str | None = None) -> tuple[list[str], list[list]]:
    qs = {"db": db, "q": sql}
    if epoch:
        qs["epoch"] = epoch
    url = f"{base}/query?{urllib.parse.urlencode(qs)}{auth_qs}"
    out = json.loads(_http(url))
    results = out.get("results") or [{}]
    series = (results[0].get("series") or [{}])[0]
    return series.get("columns") or [], series.get("values") or []


class InfluxDbSource(Source):
    NAME = "InfluxDB"

    def read(self, spark: SparkSession) -> DataFrame:
        base = apply_host_aliases(self.require("url").rstrip("/"))
        db = self.require("database")
        sql = self.require("sql")
        # numeric epoch timestamps by default (the reference's EPOCH
        # option; without it influx returns RFC3339 strings)
        epoch = self.opt("epoch", "n")
        auth_qs = ""
        if self.opt("username"):
            auth_qs = "&" + urllib.parse.urlencode(
                {"u": self.opt("username"), "p": self.opt("password") or ""})
        fields = (self.opt("schema") or {}).get("fields")
        if not fields:
            raise ValueError("InfluxDB source: schema.fields required")
        schema = parse_schema(fields)

        split_col = self.opt("split_column")
        if split_col and self.opt("upper_bound") is not None:
            lo = int(self.opt("lower_bound", 0))
            hi = int(self.require("upper_bound"))
            n = int(self.opt("partition_num", 4))
            step = max(1, (hi - lo) // n)
            conj = "AND" if " where " in sql.lower() else "WHERE"
            sqls = []
            for i in range(n):
                a = lo + i * step
                b = hi if i == n - 1 else a + step
                sqls.append(f"{sql} {conj} {split_col} >= {a} "
                            f"AND {split_col} < {b}")
        else:
            sqls = [sql]

        sdf = spark.createDataFrame([(s,) for s in sqls], "q string") \
            .repartition(len(sqls))
        fields_json = schema.jsonValue()

        def run(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields_json)
            names = [f.name for f in sch.fields]
            for pdf in batches:
                for q in pdf["q"]:
                    cols, values = influx_query(base, db, q, auth_qs, epoch)
                    idx = {c: i for i, c in enumerate(cols)}
                    recs = [tuple(row[idx[n]] if n in idx else None
                                  for n in names) for row in values]
                    yield (pd.DataFrame.from_records(recs, columns=names)
                           if recs else pd.DataFrame({n: [] for n in names}))

        return map_in_pandas(sdf, run, schema)


def _line_escape(s: str, is_tag: bool) -> str:
    out = str(s).replace(",", r"\,").replace(" ", r"\ ")
    if is_tag:
        out = out.replace("=", r"\=")
    return out


class InfluxDbSink(Sink):
    NAME = "InfluxDB"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        groups = getattr(self, "table_groups", None)
        if groups:
            # multi-table fan-out: measurement = source table name
            # (fake_to_infuxdb_with_multipletable.conf)
            for tid, tdf in groups.items():
                sub = InfluxDbSink(self.options)
                sub.plugin_name = self.plugin_name
                sub.input_name = tid
                sub.write(tdf)
            return
        base = apply_host_aliases(self.require("url").rstrip("/"))
        db = self.require("database")
        measurement = self.opt("measurement") or str(
            getattr(self, "input_name", None) or
            self.require("measurement")).split(".")[-1]
        key_time = self.opt("key_time")
        key_tags = self.opt("key_tags") or []
        batch_size = int(self.opt("batch_size", 1024))
        rp = self.opt("rp")
        auth_qs = ""
        if self.opt("username"):
            auth_qs = "&" + urllib.parse.urlencode(
                {"u": self.opt("username"), "p": self.opt("password") or ""})
        meta = [ROW_KIND_COL, TABLE_ID_COL]

        def write_partition(rows):
            lines: list[str] = []

            def flush():
                if not lines:
                    return
                qs = {"db": db}
                if rp:
                    qs["rp"] = rp
                url = (f"{base}/write?{urllib.parse.urlencode(qs)}"
                       f"{auth_qs}")
                _http(url, ("\n".join(lines)).encode())
                lines.clear()

            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                ts = d.pop(key_time) if key_time and key_time in d else None
                tags = "".join(
                    f",{_line_escape(k, True)}={_line_escape(d.pop(k), True)}"
                    for k in key_tags if k in d)
                vals = []
                for k, v in d.items():
                    if v is None:
                        continue
                    if isinstance(v, bool):
                        vals.append(f"{k}={'true' if v else 'false'}")
                    elif isinstance(v, int):
                        vals.append(f"{k}={v}i")
                    elif isinstance(v, float):
                        vals.append(f"{k}={v}")
                    else:
                        s = str(v).replace('"', r'\"')
                        vals.append(f'{k}="{s}"')
                if not vals:
                    continue
                line = f"{_line_escape(measurement, False)}{tags} " \
                    + ",".join(vals)
                if ts is not None:
                    line += f" {int(ts)}"
                lines.append(line)
                if len(lines) >= batch_size:
                    flush()
            flush()

        df.foreachPartition(write_partition)


__all__ = ["InfluxDbSource", "InfluxDbSink", "influx_query"]
