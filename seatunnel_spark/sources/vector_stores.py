"""Vector/search-store connectors over their public REST APIs:
Qdrant (points scroll/upsert) and Typesense (documents export/import).

Reference: connector-qdrant (QdrantConfig: host/port/api_key/use_tls/
collection_name; source scroll-reads points, sink upserts id/vector/
payload) and connector-typesense (TypesenseConfig: hosts/api_key/
collection/query, sink primary_keys/key_delimiter/max_batch_size/
schema_save_mode/data_save_mode).

Spark shape: reads stream through mapInPandas pages; writes batch
per partition. Vector columns are array<float> — the same embedding
column convention the dataops ANN operators use, so a Qdrant
collection round-trips straight into sim_topk / dedup_embedding_*.
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import DataFrame, SparkSession, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sinks.base import Sink
from seatunnel_spark.sources.base import Source
from seatunnel_spark.types import ROW_KIND_COL, TABLE_ID_COL, parse_schema


def _req(url: str, method: str = "GET", body: dict | bytes | None = None,
         headers: dict | None = None, timeout: float = 60.0):
    data = None
    hdrs = dict(headers or {})
    if isinstance(body, dict):
        data = json.dumps(body).encode()
        hdrs.setdefault("Content-Type", "application/json")
    elif isinstance(body, (bytes, bytearray)):
        data = bytes(body)
    req = urllib.request.Request(url, data=data, method=method, headers=hdrs)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            payload = resp.read()
            if not payload:
                return {}
            try:
                return json.loads(payload)
            except json.JSONDecodeError:
                # JSONL responses (typesense import results)
                return [json.loads(line)
                        for line in payload.decode().splitlines()
                        if line.strip()]
    except urllib.error.HTTPError as e:
        raise RuntimeError(f"{method} {url} -> {e.code}: "
                           f"{e.read().decode(errors='replace')[:300]}") from e


import urllib.error  # noqa: E402


# ==========================================================================
# Qdrant
# ==========================================================================

class QdrantSource(Source):
    NAME = "Qdrant"

    def _base(self) -> tuple[str, dict]:
        scheme = "https" if self.opt("use_tls") else "http"
        host = self.opt("host", "localhost")
        port = int(self.opt("port", 6333))
        base = apply_host_aliases(f"{scheme}://{host}:{port}")
        headers = {}
        if self.opt("api_key"):
            headers["api-key"] = self.opt("api_key")
        return base, headers

    def read(self, spark: SparkSession) -> DataFrame:
        coll = self.require("collection_name")
        schema_opt = self.opt("schema") or {}
        if "columns" in schema_opt and "fields" not in schema_opt:
            # columns-list form (qdrant-to-qdrant.conf)
            fields = {c["name"]: c["type"]
                      for c in schema_opt["columns"]}
        else:
            from seatunnel_spark.sources.file import _schema_fields

            fields = _schema_fields(schema_opt)
        if not fields:
            raise ValueError("Qdrant source: schema.fields required "
                             "(id + vector + payload columns)")
        # qdrant's vector column type spelling (qdrant-to-qdrant.conf);
        # an unnamed point vector maps to the declared vector column
        vector_cols = [k for k, v in fields.items()
                       if str(v).lower() in ("float_vector", "vector")]
        fields = {k: ("array<float>" if k in vector_cols else v)
                  for k, v in fields.items()}
        schema = parse_schema(fields)
        base, headers = self._base()
        batch = int(self.opt("batch_size", 256))
        fields_json = schema.jsonValue()

        # scroll is cursor-sequential (like SCAN); page fetch runs in one
        # task, decode parallelizes downstream — mirror of the reference's
        # single source reader.
        one = spark.createDataFrame([(0,)], "i int").coalesce(1)

        def run(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields_json)
            names = [f.name for f in sch.fields]
            # only the partition holding the marker row fetches
            if not any(len(pdf) for pdf in batches):
                return
            offset = None
            while True:
                body = {"limit": batch, "with_payload": True,
                        "with_vector": True}
                if offset is not None:
                    body["offset"] = offset
                out = _req(f"{base}/collections/{coll}/points/scroll",
                           "POST", body, headers)
                res = out.get("result") or {}
                pts = res.get("points") or []
                if not pts:
                    break
                recs = []
                for p in pts:
                    doc = dict(p.get("payload") or {})
                    doc.setdefault("id", p.get("id"))
                    vec = p.get("vector")
                    if isinstance(vec, dict):  # named vectors
                        doc.update(vec)
                    else:
                        doc.setdefault("vector", vec)
                        for vc in vector_cols:
                            doc.setdefault(vc, vec)
                    recs.append(tuple(doc.get(n) for n in names))
                yield pd.DataFrame.from_records(recs, columns=names)
                offset = res.get("next_page_offset")
                if offset is None:
                    break

        return map_in_pandas(one, run, schema)


class QdrantSink(Sink):
    NAME = "Qdrant"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        scheme = "https" if self.opt("use_tls") else "http"
        host = self.opt("host", "localhost")
        port = int(self.opt("port", 6333))
        base = apply_host_aliases(f"{scheme}://{host}:{port}")
        headers = {}
        if self.opt("api_key"):
            headers["api-key"] = self.opt("api_key")
        coll = self.require("collection_name")
        id_col = self.opt("id_field", "id")
        vec_col = self.opt("vector_field", "vector")
        # array<float> columns are vectors whatever their name — the
        # qdrant-to-qdrant conf round-trips a `my_vector` column
        vec_fallbacks = [f.name for f in df.schema.fields
                         if f.dataType.simpleString() == "array<float>"]
        batch_size = int(self.opt("batch_size", 64))
        meta = [ROW_KIND_COL, TABLE_ID_COL]

        def write_partition(rows):
            import uuid as _uuid

            points: list[dict] = []

            def flush():
                if points:
                    _req(f"{base}/collections/{coll}/points?wait=true",
                         "PUT", {"points": list(points)}, headers)
                    points.clear()

            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                pid = d.pop(id_col, None)
                if pid is None:
                    # no id column declared (qdrant-to-qdrant.conf):
                    # collision-free point ids, like the reference's
                    # UUID point-id fallback
                    pid = str(_uuid.uuid4())
                vec = d.pop(vec_col, None)
                if vec is None:
                    for vf in vec_fallbacks:
                        if d.get(vf) is not None:
                            vec = d.pop(vf)
                            break
                points.append({"id": pid,
                               "vector": [float(x) for x in vec or []],
                               "payload": d})
                if len(points) >= batch_size:
                    flush()
            flush()

        df.foreachPartition(write_partition)


# ==========================================================================
# Typesense
# ==========================================================================

class TypesenseSource(Source):
    NAME = "Typesense"

    def read(self, spark: SparkSession) -> DataFrame:
        hosts = self.require("hosts")
        host = hosts[0] if isinstance(hosts, list) else str(hosts)
        proto = self.opt("protocol", "http")
        base = apply_host_aliases(
            host if "://" in host else f"{proto}://{host}")
        headers = {"X-TYPESENSE-API-KEY": self.opt("api_key", "")}
        coll = self.require("collection")
        query = self.opt("query")
        fields = (self.opt("schema") or {}).get("fields")
        if not fields:
            raise ValueError("Typesense source: schema.fields required")
        schema = parse_schema(fields)
        fields_json = schema.jsonValue()
        url = f"{base}/collections/{coll}/documents/export"
        if query:
            q = str(query)
            if "=" in q:
                # full querystring form ("q=*&filter_by=...") — re-encode
                from urllib.parse import parse_qsl, urlencode

                url += "?" + urlencode(parse_qsl(q))
            else:
                url += f"?filter_by={urllib.request.quote(q)}"

        one = spark.createDataFrame([(0,)], "i int").coalesce(1)

        def run(batches):
            import pandas as pd

            sch = T.StructType.fromJson(fields_json)
            names = [f.name for f in sch.fields]
            if not any(len(pdf) for pdf in batches):
                return
            req = urllib.request.Request(url, headers=headers)
            with urllib.request.urlopen(req, timeout=120) as resp:
                lines = resp.read().decode().splitlines()
            recs = []
            for line in lines:
                if not line.strip():
                    continue
                doc = json.loads(line)
                recs.append(tuple(doc.get(n) for n in names))
            yield (pd.DataFrame.from_records(recs, columns=names)
                   if recs else pd.DataFrame({n: [] for n in names}))

        return map_in_pandas(one, run, schema)


class TypesenseSink(Sink):
    NAME = "Typesense"

    def wants_observation(self) -> bool:
        return False

    def write(self, df: DataFrame) -> None:
        hosts = self.require("hosts")
        host = hosts[0] if isinstance(hosts, list) else str(hosts)
        proto = self.opt("protocol", "http")
        base = apply_host_aliases(
            host if "://" in host else f"{proto}://{host}")
        headers = {"X-TYPESENSE-API-KEY": self.opt("api_key", "")}
        coll = str(self.require("collection")).replace(
            "${table_name}", getattr(self, "input_name", "t").split(".")[-1])
        keys = self.opt("primary_keys")
        delim = self.opt("key_delimiter", "_")
        batch_size = int(self.opt("max_batch_size", 100))

        schema_mode = str(self.opt("schema_save_mode",
                                   "CREATE_SCHEMA_WHEN_NOT_EXIST")).upper()
        data_mode = str(self.opt("data_save_mode", "APPEND_DATA")).upper()
        try:
            exists = bool(_req(f"{base}/collections/{coll}", "GET",
                               headers=headers))
        except RuntimeError:
            exists = False
        if schema_mode == "ERROR_WHEN_SCHEMA_NOT_EXIST" and not exists:
            raise ValueError(f"Typesense sink: collection {coll!r} missing")
        if schema_mode == "RECREATE_SCHEMA" and exists:
            _req(f"{base}/collections/{coll}", "DELETE", headers=headers)
            exists = False
        if not exists:
            _req(f"{base}/collections", "POST",
                 {"name": coll, "fields": [{"name": ".*", "type": "auto"}]},
                 headers)
        elif data_mode == "DROP_DATA":
            _req(f"{base}/collections/{coll}/documents?filter_by=", "DELETE",
                 headers=headers)
        elif data_mode == "ERROR_WHEN_DATA_EXISTS":
            try:
                head = _req(
                    f"{base}/collections/{coll}/documents/export?limit=1",
                    "GET", headers=headers)
            except Exception:  # noqa: BLE001 — treat unreadable as empty
                head = None
            if head:
                raise ValueError(
                    f"Typesense sink: collection {coll!r} has data "
                    "(ERROR_WHEN_DATA_EXISTS)")

        meta = [ROW_KIND_COL, TABLE_ID_COL]

        def write_partition(rows):
            buf: list[str] = []

            def flush():
                if buf:
                    _req(f"{base}/collections/{coll}/documents/import"
                         "?action=upsert", "POST",
                         ("\n".join(buf) + "\n").encode(),
                         {**headers, "Content-Type": "text/plain"})
                    buf.clear()

            for row in rows:
                d = row.asDict(recursive=True)
                for c in meta:
                    d.pop(c, None)
                if keys:
                    d["id"] = delim.join(str(d.get(k)) for k in keys)
                buf.append(json.dumps(d, default=str))
                if len(buf) >= batch_size:
                    flush()
            flush()

        df.foreachPartition(write_partition)


__all__ = ["QdrantSource", "QdrantSink", "TypesenseSource", "TypesenseSink"]
