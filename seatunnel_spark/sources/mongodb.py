"""MongoDB source — OP_MSG wire protocol over stdlib sockets.

Semantic parity with the reference connector (connector-mongodb/.../
config/MongodbConfig.java, source/MongodbSource.java): uri/database/
collection, `match.query` + `match.projection` pushdown,
`partition.split-key` + `partition.split-size` splits, `fetch.size`
cursor batches, `flat.sync-string` (whole doc as one JSON string
column), schema-driven document->row conversion.

Spark shape: the split enumeration (boundary sampling on the split
key) runs once on the driver reading ONLY the split-key column; each
range then streams through mapInPandas executor-side — the same
split/reader split as the reference's MongodbSourceSplitEnumerator,
with the range scan parallelized across the cluster.

The wire client speaks modern OP_MSG (find/getMore/insert/update/
delete/count admin commands) with the stdlib BSON codec
(seatunnel_spark/bson_codec.py) — point it at any real MongoDB and it
works; tests run against the in-process mini server.
"""

from __future__ import annotations

import json
import socket
import struct
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark import bson_codec as bson
from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sources.base import Source

_OP_MSG = 2013


class MongoClientLite:
    def __init__(self, uri: str, timeout: float = 60.0):
        uri = apply_host_aliases(uri)
        parts = urlsplit(uri)
        host = parts.hostname or "127.0.0.1"
        port = parts.port or 27017
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._req = 0
        self._buf = b""

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("mongodb connection closed")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def command(self, db: str, cmd: dict) -> dict:
        """One OP_MSG round trip (kind-0 section)."""
        self._req += 1
        body = bson.encode({**cmd, "$db": db})
        msg = struct.pack("<iiii", 16 + 4 + 1 + len(body), self._req, 0,
                          _OP_MSG) + struct.pack("<I", 0) + b"\x00" + body
        self.sock.sendall(msg)
        (length,) = struct.unpack("<i", self._read_exact(4))
        payload = self._read_exact(length - 4)
        # skip header remainder (12) + flagBits (4) + section kind (1)
        doc, _ = bson.decode(payload, 12 + 4 + 1)
        if doc.get("ok") != 1 and doc.get("ok") != 1.0:
            raise RuntimeError(f"mongodb command failed: {doc}")
        return doc

    def find_all(self, db: str, coll: str, filter_: dict | None = None,
                 projection: dict | None = None, batch_size: int = 1000,
                 sort: dict | None = None, limit: int = 0):
        cmd: dict = {"find": coll, "filter": filter_ or {},
                     "batchSize": batch_size}
        if projection:
            cmd["projection"] = projection
        if sort:
            cmd["sort"] = sort
        if limit:
            cmd["limit"] = limit
        out = self.command(db, cmd)
        cur = out["cursor"]
        yield from cur.get("firstBatch", [])
        cid = cur.get("id", 0)
        while cid:
            out = self.command(db, {"getMore": cid, "collection": coll,
                                    "batchSize": batch_size})
            cur = out["cursor"]
            yield from cur.get("nextBatch", [])
            cid = cur.get("id", 0)

    def change_stream(self, db: str, coll: str,
                      start_at: int | None = None,
                      batch_size: int = 1000):
        """Open a `$changeStream` aggregate (fullDocument: updateLookup,
        the reference's MongodbSourceConfig default) and drain the
        available change documents. Returns (operation_time, events):
        operation_time is the stream-open position — the snapshot
        watermark for the slot-before-snapshot stitch — and events are
        public change-stream documents (operationType, documentKey,
        fullDocument, clusterTime). Bounded: the mini server terminates
        the cursor when drained; a production tail keeps issuing getMore
        on the live cursor."""
        cs: dict = {"fullDocument": "updateLookup"}
        if start_at is not None:
            cs["startAtOperationTime"] = start_at
        out = self.command(db, {"aggregate": coll,
                                "pipeline": [{"$changeStream": cs}],
                                "cursor": {"batchSize": batch_size}})
        op_time = int(out.get("operationTime", 0))
        cur = out["cursor"]
        events = list(cur.get("firstBatch", []))
        cid = cur.get("id", 0)
        while cid:
            out = self.command(db, {"getMore": cid, "collection": coll,
                                    "batchSize": batch_size})
            cur = out["cursor"]
            events += list(cur.get("nextBatch", []))
            cid = cur.get("id", 0)
        return op_time, events

    def insert_many(self, db: str, coll: str, docs: list[dict]) -> int:
        if not docs:
            return 0
        out = self.command(db, {"insert": coll, "documents": docs})
        return int(out.get("n", 0))

    def update(self, db: str, coll: str, updates: list[dict]) -> dict:
        return self.command(db, {"update": coll, "updates": updates})

    def delete(self, db: str, coll: str, deletes: list[dict]) -> dict:
        return self.command(db, {"delete": coll, "deletes": deletes})

    def count(self, db: str, coll: str, query: dict | None = None) -> int:
        out = self.command(db, {"count": coll, "query": query or {}})
        return int(out.get("n", 0))

    def drop(self, db: str, coll: str) -> None:
        try:
            self.command(db, {"drop": coll})
        except RuntimeError:
            pass  # ns not found


def parse_match(raw) -> dict | None:
    """match.query is a JSON-ish string in confs; accept dicts too
    (BsonDocument.parse is lenient about unquoted keys — mirror that)."""
    if raw is None or isinstance(raw, dict):
        return raw
    s = str(raw).strip()
    if not s:
        return None
    try:
        return json.loads(s)
    except json.JSONDecodeError:
        import re

        fixed = re.sub(r"([,{]\s*)([A-Za-z_$][\w.$]*)(\s*:)", r'\1"\2"\3', s)
        return json.loads(fixed)


def _convert(v, dt: T.DataType):
    """BSON value -> Arrow-friendly Python value for mapInPandas
    (structs/maps as dicts, not tuples)."""
    import datetime as _d
    import decimal as _dec

    if isinstance(v, bson.ObjectId):
        v = str(v)
    if v is None:
        return None
    if isinstance(dt, T.StringType):
        return v if isinstance(v, str) else json.dumps(v, default=str)
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(v)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dt, T.DecimalType):
        return v if isinstance(v, _dec.Decimal) else _dec.Decimal(str(v))
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, T.BinaryType):
        return bytes(v) if not isinstance(v, str) else v.encode()
    if isinstance(dt, T.TimestampType):
        if isinstance(v, _d.datetime):
            return v
        if isinstance(v, (int, float)):
            return _d.datetime.fromtimestamp(v / 1000.0)
        return _d.datetime.fromisoformat(str(v).replace("Z", "+00:00")
                                         ).replace(tzinfo=None)
    if isinstance(dt, T.DateType):
        if isinstance(v, _d.datetime):
            return v.date()
        return _d.date.fromisoformat(str(v)[:10])
    if isinstance(dt, T.ArrayType):
        seq = v if isinstance(v, list) else [v]
        return [_convert(x, dt.elementType) for x in seq]
    if isinstance(dt, T.MapType):
        return {str(k): _convert(x, dt.valueType) for k, x in dict(v).items()}
    if isinstance(dt, T.StructType):
        m = dict(v)
        return {f.name: _convert(m.get(f.name), f.dataType)
                for f in dt.fields}
    return v


def _doc_to_row(doc: dict, schema: T.StructType):
    return tuple(_convert(doc.get(f.name), f.dataType)
                 for f in schema.fields)


class MongoSource(Source):
    NAME = "MongoDB"

    def read(self, spark: SparkSession) -> DataFrame:
        from seatunnel_spark.types import parse_schema

        uri = self.require("uri")
        db = self.require("database")
        coll = self.require("collection")
        # matchQuery is the legacy spelling (compatibleParametersIT)
        match = parse_match(self.opt("match.query")
                            or self.opt("matchQuery"))
        projection = parse_match(self.opt("match.projection"))
        fetch = int(self.opt("fetch.size", 2048))
        flat = bool(self.opt("flat.sync-string",
                             not (self.opt("schema"))))
        split_key = self.opt("partition.split-key", "_id")
        split_size = int(self.opt("partition.split-size", 64 * 1024))

        schema_opt = (self.opt("schema") or {}).get("fields")
        if not schema_opt and (self.opt("schema") or {}).get("columns"):
            schema_opt = {c["name"]: c["type"]
                          for c in self.opt("schema")["columns"]}
        if flat or not schema_opt:
            # flat.sync-string: the whole doc as ONE string column —
            # named by the declared single-field schema when present
            # (flatIT declares `data = string`), else `content`
            flat_col = (list(schema_opt.keys())[0]
                        if schema_opt and len(schema_opt) == 1 else "content")
            schema = T.StructType([T.StructField(flat_col, T.StringType())])
        else:
            schema = parse_schema(schema_opt)

        # --- split enumeration (driver): sample split-key boundaries so
        # each executor scans one range (MongodbSourceSplitEnumerator).
        cl = MongoClientLite(uri)
        try:
            total = cl.count(db, coll, match)
            n_splits = max(1, min(total // max(split_size, 1) + 1,
                                  spark.sparkContext.defaultParallelism))
            bounds: list = []
            if n_splits > 1:
                keys = [d.get(split_key) for d in cl.find_all(
                    db, coll, match, {split_key: 1}, fetch)]
                keys = sorted((k for k in keys if k is not None),
                              key=lambda v: (str(type(v)), str(v)))
                step = max(1, len(keys) // n_splits)
                bounds = [keys[i] for i in range(step, len(keys), step)]
        finally:
            cl.close()
        edges = [None, *bounds, None]
        ranges = [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]

        uri_final = apply_host_aliases(uri)
        rows = spark.createDataFrame(
            [(i,) for i in range(len(ranges))], "i int"
        ).repartition(len(ranges))
        match_json = json.dumps(match, default=str) if match else None
        proj_json = json.dumps(projection, default=str) if projection else None
        fields = schema.jsonValue()
        bounds_oid = [b.raw.hex() if isinstance(b, bson.ObjectId) else b
                      for b in bounds]

        def fetch_ranges(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields)
            edges_l = [None, *[bson.ObjectId(b) if isinstance(b, str)
                               and len(b) == 24 and split_key == "_id" else b
                               for b in bounds_oid], None]
            cl = MongoClientLite(uri_final)
            try:
                for pdf in batches:
                    for i in pdf["i"]:
                        lo, hi = edges_l[i], edges_l[i + 1]
                        q = dict(json.loads(match_json)) if match_json else {}
                        rng = {}
                        if lo is not None:
                            rng["$gte"] = lo
                        if hi is not None:
                            rng["$lt"] = hi
                        if rng:
                            q = {"$and": [q, {split_key: rng}]} if q else \
                                {split_key: rng}
                        proj = json.loads(proj_json) if proj_json else None
                        docs = cl.find_all("%s" % db, coll, q, proj, fetch)
                        if flat or len(sch.fields) == 1 and \
                                sch.fields[0].name == "content":
                            vals = [json.dumps(
                                {k: v for k, v in d.items()}, default=str)
                                for d in docs]
                            yield pd.DataFrame({sch.fields[0].name: vals})
                        else:
                            recs = [_doc_to_row(d, sch) for d in docs]
                            yield pd.DataFrame.from_records(
                                recs, columns=[f.name for f in sch.fields]) \
                                if recs else pd.DataFrame(
                                {f.name: [] for f in sch.fields})
            finally:
                cl.close()

        return map_in_pandas(rows, fetch_ranges, schema)


__all__ = ["MongoClientLite", "MongoSource", "parse_match"]
