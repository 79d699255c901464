"""AmazonDynamodb source/sink — AWS JSON 1.0 protocol over stdlib
HTTP with SigV4 signing (shares the signer with the SQS connector).

Reference: connector-amazondynamodb (url, region, access_key_id,
secret_access_key, table, batch_size, scan_item_limit,
parallel_scan_threads; AttributeValue <-> row conversion in
DefaultSeaTunnelRowDeserializer).

Spark shape: DynamoDB's parallel Scan (Segment/TotalSegments) IS a
split enumerator — each Spark task scans one segment, so the read
uses the whole cluster; the sink BatchWriteItem's 25 at a time per
partition.
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import DataFrame, SparkSession, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sinks.base import Sink
from seatunnel_spark.sources.base import Source
from seatunnel_spark.sources.sqs import _sigv4_headers
from seatunnel_spark.types import ROW_KIND_COL, TABLE_ID_COL, parse_schema


def _call(url: str, target: str, payload: dict, region: str,
          ak: str | None, sk: str | None, timeout: float = 60.0) -> dict:
    body = json.dumps(payload).encode()
    headers = {
        "Content-Type": "application/x-amz-json-1.0",
        "X-Amz-Target": f"DynamoDB_20120810.{target}",
        **_sigv4_headers("POST", url, body, region, ak, sk,
                         service="dynamodb"),
    }
    req = urllib.request.Request(url, data=body, headers=headers,
                                 method="POST")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read() or b"{}")


# -- AttributeValue codec (public DynamoDB data model) ---------------------

def to_attr(v):
    import base64
    import datetime as _dt
    import decimal

    if v is None:
        return {"NULL": True}
    if isinstance(v, bool):
        return {"BOOL": v}
    if isinstance(v, (int, float, decimal.Decimal)):
        return {"N": str(v)}
    if isinstance(v, str):
        return {"S": v}
    if isinstance(v, (bytes, bytearray)):
        return {"B": base64.b64encode(bytes(v)).decode()}
    if isinstance(v, (_dt.datetime, _dt.date)):
        return {"S": v.isoformat()}
    if isinstance(v, (list, tuple)):
        return {"L": [to_attr(x) for x in v]}
    if isinstance(v, dict):
        return {"M": {str(k): to_attr(x) for k, x in v.items()}}
    return {"S": str(v)}


def from_attr(av: dict):
    if av is None:
        return None
    (tag, val), = av.items()
    if tag == "NULL":
        return None
    if tag in ("S",):
        return val
    if tag == "N":
        return float(val) if "." in val or "e" in val.lower() else int(val)
    if tag == "BOOL":
        return bool(val)
    if tag == "B":
        import base64

        return base64.b64decode(val)
    if tag == "L":
        return [from_attr(x) for x in val]
    if tag == "M":
        return {k: from_attr(x) for k, x in val.items()}
    if tag in ("SS", "NS"):
        return list(val)
    return val


class DynamoDbSource(Source):
    NAME = "AmazonDynamodb"

    def read(self, spark: SparkSession) -> DataFrame:
        from seatunnel_spark.sources.mongodb import _convert

        url = apply_host_aliases(self.require("url"))
        region = self.opt("region", "us-east-1")
        ak, sk = self.opt("access_key_id"), self.opt("secret_access_key")
        table = self.require("table")
        segments = int(self.opt("parallel_scan_threads",
                                min(8, spark.sparkContext.defaultParallelism)))
        limit = self.opt("scan_item_limit")
        fields = (self.opt("schema") or {}).get("fields")
        if not fields:
            raise ValueError("AmazonDynamodb source: schema.fields required")
        schema = parse_schema(fields)
        fields_json = schema.jsonValue()

        seg_df = spark.createDataFrame([(i,) for i in range(segments)],
                                       "seg int").repartition(segments)

        def scan(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields_json)
            names = [(f.name, f.dataType) for f in sch.fields]
            for pdf in batches:
                for seg in pdf["seg"]:
                    start_key = None
                    while True:
                        payload: dict = {"TableName": table,
                                         "Segment": int(seg),
                                         "TotalSegments": segments}
                        if limit:
                            payload["Limit"] = int(limit)
                        if start_key:
                            payload["ExclusiveStartKey"] = start_key
                        out = _call(url, "Scan", payload, region, ak, sk)
                        items = out.get("Items", [])
                        recs = []
                        for item in items:
                            doc = {k: from_attr(v) for k, v in item.items()}
                            recs.append(tuple(
                                _convert(doc.get(n), dt) for n, dt in names))
                        yield (pd.DataFrame.from_records(
                            recs, columns=[n for n, _ in names])
                            if recs else pd.DataFrame(
                            {n: [] for n, _ in names}))
                        start_key = out.get("LastEvaluatedKey")
                        if not start_key:
                            break

        return map_in_pandas(seg_df, scan, schema)


class DynamoDbSink(Sink):
    NAME = "AmazonDynamodb"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        url = apply_host_aliases(self.require("url"))
        region = self.opt("region", "us-east-1")
        ak, sk = self.opt("access_key_id"), self.opt("secret_access_key")
        table = self.require("table")
        batch_size = min(int(self.opt("batch_size", 25)), 25)  # API max
        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL) if c in df.columns]

        def write_partition(rows):
            buf: list[dict] = []

            def flush():
                if not buf:
                    return
                payload = {"RequestItems": {table: list(buf)}}
                out = _call(url, "BatchWriteItem", payload, region, ak, sk)
                unp = (out.get("UnprocessedItems") or {}).get(table)
                buf.clear()
                if unp:
                    buf.extend(unp)
                    flush()

            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                buf.append({"PutRequest": {"Item": {
                    k: to_attr(v) for k, v in d.items()}}})
                if len(buf) >= batch_size:
                    flush()
            flush()

        df.foreachPartition(write_partition)


__all__ = ["DynamoDbSource", "DynamoDbSink", "to_attr", "from_attr"]
