"""IoTDB source/sink over the public REST API v2 (port 18080).

Reference: connector-iotdb (node_urls, username/password, sql with
lower_bound/upper_bound/num_partitions time-range splits, sink
key_device/key_timestamp/key_measurement_fields mapping into
root.** timeseries). The reference drives the Thrift session client;
the REST service (/rest/v2/query, /rest/v2/insertTablet) executes the
same SQL and tablet writes.

Spark shape: time-range splits append WHERE time >= lo AND time < hi
per partition (exactly the reference's IoTDBSourceSplitEnumerator
predicate form); the sink groups each partition's rows into per-device
tablets.
"""

from __future__ import annotations

import base64
import json
import urllib.request

from pyspark.sql import DataFrame, SparkSession, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sinks.base import Sink
from seatunnel_spark.sources.base import Source
from seatunnel_spark.types import ROW_KIND_COL, TABLE_ID_COL, parse_schema


def _post(base: str, path: str, body: dict, user: str, password: str,
          timeout: float = 60.0) -> dict:
    tok = base64.b64encode(f"{user}:{password}".encode()).decode()
    req = urllib.request.Request(
        base + path, data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json",
                 "Authorization": f"Basic {tok}"}, method="POST")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read() or b"{}")


def _base_url(node) -> str:
    node = node[0] if isinstance(node, list) else str(node).split(",")[0]
    node = node.strip()
    return apply_host_aliases(
        node if "://" in node else f"http://{node}").rstrip("/")


class IoTDbSource(Source):
    NAME = "IoTDB"

    def read(self, spark: SparkSession) -> DataFrame:
        base = _base_url(self.require("node_urls"))
        user = str(self.opt("username", "root"))
        password = str(self.opt("password", "root"))
        sql = self.require("sql")
        fields = (self.opt("schema") or {}).get("fields")
        if not fields:
            raise ValueError("IoTDB source: schema.fields required")
        schema = parse_schema(fields)
        fields_json = schema.jsonValue()

        lo, hi = self.opt("lower_bound"), self.opt("upper_bound")
        n = int(self.opt("num_partitions", 1))
        # split predicates go BEFORE a trailing `align by device`
        # (iotdb_source_to_sink.conf) — it must stay the last clause
        import re as _re

        m_align = _re.search(r"\s+align\s+by\s+device\s*$", sql, _re.I)
        core, suffix = ((sql[:m_align.start()], sql[m_align.start():])
                        if m_align else (sql, ""))
        if lo is not None and hi is not None and n > 1:
            lo, hi = int(lo), int(hi)
            step = max(1, (hi - lo) // n)
            conj = "AND" if " where " in core.lower() else "WHERE"
            sqls = [f"{core} {conj} time >= {lo + i * step} AND time < "
                    f"{hi if i == n - 1 else lo + (i + 1) * step}{suffix}"
                    for i in range(n)]
        else:
            sqls = [sql]
        sdf = spark.createDataFrame([(s,) for s in sqls], "q string") \
            .repartition(len(sqls))

        def run(batches):
            import pandas as pd

            from seatunnel_spark.sources.mongodb import _convert

            sch = T.StructType.fromJson(fields_json)
            names = [(f.name, f.dataType) for f in sch.fields]
            for pdf in batches:
                for q in pdf["q"]:
                    out = _post(base, "/rest/v2/query",
                                {"sql": q}, user, password)
                    cols = (["Time"] if out.get("timestamps") else []) \
                        + (out.get("expressions")
                           or out.get("column_names") or [])
                    series = ([out["timestamps"]]
                              if out.get("timestamps") else []) \
                        + (out.get("values") or [])
                    idx = {c.split(".")[-1].lower(): i
                           for i, c in enumerate(cols)}
                    # schema spellings for the implicit columns
                    # (iotdb_source_to_sink.conf: ts + device_name in
                    # align-by-device mode)
                    alias = {"ts": "time", "device_name": "device"}
                    n_rows = len(series[0]) if series else 0
                    recs = []
                    for r in range(n_rows):
                        row = []
                        for nm, dt in names:
                            key = nm.lower()
                            if key not in idx:
                                key = alias.get(key, key)
                            row.append(_convert(
                                series[idx[key]][r] if key in idx
                                else None, dt))
                        recs.append(tuple(row))
                    if recs:  # empty frames default to float64
                        # columns, which Arrow can't cast to timestamp
                        yield pd.DataFrame.from_records(
                            recs, columns=[nm for nm, _ in names])

        return map_in_pandas(sdf, run, schema)


class IoTDbSink(Sink):
    NAME = "IoTDB"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        base = _base_url(self.require("node_urls"))
        user = str(self.opt("username", "root"))
        password = str(self.opt("password", "root"))
        key_device = self.require("key_device")
        key_ts = self.opt("key_timestamp")
        measurement_fields = self.opt("key_measurement_fields")
        batch_size = int(self.opt("batch_size", 1024))
        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL) if c in df.columns]

        def write_partition(rows):
            import time as _time

            # device -> {"timestamps": [], "measurements": {m: []}}
            tablets: dict[str, dict] = {}
            count = 0

            def flush():
                nonlocal count
                for device, t in tablets.items():
                    ms = sorted(t["measurements"])
                    _post(base, "/rest/v2/insertTablet", {
                        "device": device,
                        "timestamps": t["timestamps"],
                        "measurements": ms,
                        "values": [t["measurements"][m] for m in ms],
                        "is_aligned": False,
                    }, user, password)
                tablets.clear()
                count = 0

            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                device = str(d.pop(key_device))
                if key_ts and key_ts in d:
                    ts = d.pop(key_ts)
                    if hasattr(ts, "timestamp"):
                        # exact integer millis: float seconds truncate
                        # odd milliseconds down (1.001s * 1000 ->
                        # 1000.999...)
                        import datetime as _dt

                        epoch = _dt.datetime(
                            1970, 1, 1,
                            tzinfo=ts.tzinfo or _dt.timezone.utc)
                        ts = (ts.replace(tzinfo=ts.tzinfo
                                         or _dt.timezone.utc) - epoch) \
                            // _dt.timedelta(milliseconds=1)
                    ts = int(ts)
                else:
                    ts = int(_time.time() * 1000)
                fields = {k: v for k, v in d.items()
                          if not measurement_fields
                          or k in measurement_fields}
                t = tablets.setdefault(
                    device, {"timestamps": [], "measurements": {}})
                t["timestamps"].append(ts)
                for m in fields:
                    t["measurements"].setdefault(
                        m, [None] * (len(t["timestamps"]) - 1))
                for m, series in t["measurements"].items():
                    series.append(fields.get(m))
                count += 1
                if count >= batch_size:
                    flush()
            flush()

        df.foreachPartition(write_partition)


__all__ = ["IoTDbSource", "IoTDbSink"]
