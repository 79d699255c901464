"""Milvus (REST v2) and Neo4j (HTTP transactional Cypher) connectors.

Reference: connector-milvus (MilvusOptions: url, token, database,
collection, batch_size, enable_upsert, schema/data savemodes — the
reference uses the gRPC SDK; REST v2 is the same public API surface:
/v2/vectordb/entities/{insert,upsert,query}) and connector-neo4j
(Neo4jCommonConfig: uri, username/password/bearer_token, database,
query with batched parameters — the reference drives the Bolt driver;
the HTTP tx-commit endpoint executes the same Cypher).

Spark shape: writes batch per partition; Milvus reads page through
the query API with an id cursor; Neo4j source runs the user's Cypher
once (graph queries aren't range-splittable generically) and decodes
rows by schema.
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


def _post(url: str, body: dict, headers: dict | None = None,
          timeout: float = 60.0) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(body, default=str).encode(),
        headers={"Content-Type": "application/json", **(headers or {})},
        method="POST")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read() or b"{}")


# ==========================================================================
# Milvus
# ==========================================================================

class MilvusSource(Source):
    NAME = "Milvus"

    def read(self, spark: SparkSession) -> DataFrame:
        from seatunnel_spark.sources.mongodb import _convert

        base = apply_host_aliases(self.require("url").rstrip("/"))
        headers = {}
        if self.opt("token"):
            headers["Authorization"] = f"Bearer {self.opt('token')}"
        coll = self.require("collection")
        db = self.opt("database", "default")
        batch = int(self.opt("batch_size", 1000))
        fields = (self.opt("schema") or {}).get("fields")
        if not fields:
            # no declared schema: DESCRIBE the collection (the
            # reference's MilvusSource builds its CatalogTable from the
            # server's CollectionSchema)
            out = _post(f"{base}/v2/vectordb/collections/describe",
                        {"dbName": db, "collectionName": coll}, headers)
            tmap = {"Bool": "boolean", "Int8": "tinyint",
                    "Int16": "smallint", "Int32": "int",
                    "Int64": "bigint", "Float": "float",
                    "Double": "double", "VarChar": "string",
                    "String": "string", "JSON": "string",
                    "FloatVector": "array<float>",
                    "BinaryVector": "binary"}
            fields = {f.get("fieldName") or f.get("name"):
                      tmap.get(str(f.get("type")), "string")
                      for f in (out.get("data") or {}).get("fields", [])}
            if not fields:
                raise ValueError(
                    "Milvus source: schema.fields required (collection "
                    "describe returned no fields)")
        schema = parse_schema(fields)
        fields_json = schema.jsonValue()

        one = spark.createDataFrame([(0,)], "i int").coalesce(1)

        def run(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields_json)
            names = [(f.name, f.dataType) for f in sch.fields]
            if not any(len(pdf) for pdf in batches):
                return
            offset = 0
            while True:
                out = _post(f"{base}/v2/vectordb/entities/query",
                            {"dbName": db, "collectionName": coll,
                             "filter": "", "outputFields": ["*"],
                             "limit": batch, "offset": offset}, headers)
                data = out.get("data") or []
                if not data:
                    return
                recs = [tuple(_convert(d.get(n), dt) for n, dt in names)
                        for d in data]
                yield pd.DataFrame.from_records(
                    recs, columns=[n for n, _ in names])
                if len(data) < batch:
                    return
                offset += batch

        return map_in_pandas(one, run, schema)


class MilvusSink(Sink):
    NAME = "Milvus"
    table_groups = None
    input_name = "sink"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        if self.table_groups:
            for tid, tdf in self.table_groups.items():
                sub = MilvusSink(self.options)
                sub.input_name = tid
                sub.write(tdf)
            return
        base = apply_host_aliases(self.require("url").rstrip("/"))
        headers = {}
        if self.opt("token"):
            headers["Authorization"] = f"Bearer {self.opt('token')}"
        # no collection option -> the upstream table name (the milvus
        # sink confs declare only a database; MilvusSinkConfig derives
        # the collection from the CatalogTable)
        coll = str(self.opt("collection")
                   or self.input_name.split(".")[-1]).replace(
            "${table_name}", self.input_name.split(".")[-1])
        db = self.opt("database", "default")
        batch_size = int(self.opt("batch_size", 1000))
        upsert = bool(self.opt("enable_upsert"))
        verb = "upsert" if upsert else "insert"
        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL) if c in df.columns]

        def write_partition(rows):
            buf: list[dict] = []

            def flush():
                if buf:
                    out = _post(f"{base}/v2/vectordb/entities/{verb}",
                                {"dbName": db, "collectionName": coll,
                                 "data": list(buf)}, headers)
                    if out.get("code") not in (0, 200, None):
                        raise RuntimeError(f"milvus {verb} failed: {out}")
                    buf.clear()

            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                buf.append(d)
                if len(buf) >= batch_size:
                    flush()
            flush()

        df.foreachPartition(write_partition)


# ==========================================================================
# Neo4j
# ==========================================================================

def _neo4j_headers(opts) -> dict:
    headers = {}
    if opts.get("bearer_token"):
        headers["Authorization"] = f"Bearer {opts['bearer_token']}"
    elif opts.get("username"):
        tok = base64.b64encode(
            f"{opts['username']}:{opts.get('password') or ''}".encode())
        headers["Authorization"] = "Basic " + tok.decode()
    return headers


def _neo4j_base(uri: str) -> str:
    """bolt://host:7687 confs map to the HTTP API on 7474 — the
    reference drives Bolt; the tx-commit endpoint runs the same
    Cypher."""
    uri = apply_host_aliases(uri)
    if uri.startswith(("bolt://", "neo4j://")):
        host = uri.split("://", 1)[1].split(":")[0]
        uri = f"http://{host}:7474"
    return uri.rstrip("/")


def neo4j_tx(base: str, database: str, statements: list[dict],
             headers: dict) -> dict:
    out = _post(f"{base}/db/{database}/tx/commit",
                {"statements": statements}, headers)
    if out.get("errors"):
        raise RuntimeError(f"neo4j errors: {out['errors'][:3]}")
    return out


class Neo4jSource(Source):
    NAME = "Neo4j"

    def read(self, spark: SparkSession) -> DataFrame:
        from seatunnel_spark.sources.mongodb import _convert

        base = _neo4j_base(self.require("uri"))
        db = self.opt("database", "neo4j")
        query = self.require("query")
        headers = _neo4j_headers(self.options)
        fields = (self.opt("schema") or {}).get("fields")
        if not fields:
            raise ValueError("Neo4j source: schema.fields required")
        schema = parse_schema(fields)
        fields_json = schema.jsonValue()

        one = spark.createDataFrame([(0,)], "i int").coalesce(1)

        def run(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields_json)
            names = [(f.name, f.dataType) for f in sch.fields]
            if not any(len(pdf) for pdf in batches):
                return
            out = neo4j_tx(base, db, [{"statement": query}], headers)
            result = (out.get("results") or [{}])[0]
            cols = result.get("columns") or []
            idx = {c: i for i, c in enumerate(cols)}
            recs = []
            for row in result.get("data") or []:
                vals = row.get("row") or []
                recs.append(tuple(
                    _convert(vals[idx[n]] if n in idx else None, dt)
                    for n, dt in names))
            yield (pd.DataFrame.from_records(
                recs, columns=[n for n, _ in names])
                if recs else pd.DataFrame({n: [] for n, _ in names}))

        return map_in_pandas(one, run, schema)


class Neo4jSink(Sink):
    NAME = "Neo4j"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        base = _neo4j_base(self.require("uri"))
        db = self.opt("database", "neo4j")
        query = self.require("query")
        headers = _neo4j_headers(self.options)
        batch_size = int(self.opt("max_batch_size", 500))
        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL) if c in df.columns]
        # reference write modes: OneByOne binds row fields as $params;
        # Batch mode binds $batch (UNWIND $batch AS row ...)
        batched = "$batch" in query

        def write_partition(rows):
            buf: list[dict] = []

            def flush():
                if not buf:
                    return
                if batched:
                    stmts = [{"statement": query,
                              "parameters": {"batch": list(buf)}}]
                else:
                    stmts = [{"statement": query, "parameters": d}
                             for d in buf]
                neo4j_tx(base, db, stmts, headers)
                buf.clear()

            def cell(v):
                if hasattr(v, "isoformat"):
                    return v.isoformat()
                if isinstance(v, (bytes, bytearray)):
                    # the HTTP Cypher API has no bytes type; Bolt's
                    # byte arrays ride as int lists
                    return list(v)
                return v

            cols = [c for c in columns if c not in meta]
            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                if param_pos:
                    # queryParamPosition: $param <- row field by COLUMN
                    # INDEX (Neo4jSinkConfig.queryParamPosition)
                    buf.append({p: cell(row[cols[int(i)]])
                                for p, i in param_pos.items()
                                if int(i) < len(cols)})
                else:
                    buf.append({k: cell(v) for k, v in d.items()})
                if len(buf) >= batch_size:
                    flush()
            flush()

        param_pos = dict(self.opt("queryParamPosition") or {})
        if batched:
            param_pos = {}  # batch mode binds whole rows via $batch
        columns = list(df.columns)
        df.foreachPartition(write_partition)


__all__ = ["MilvusSource", "MilvusSink", "Neo4jSource", "Neo4jSink",
           "neo4j_tx"]
