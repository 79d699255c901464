"""Redis source/client — RESP wire protocol over stdlib sockets.

Semantic parity with the reference connector (connector-redis/.../
config/RedisConfig.java, source/RedisSourceReader.java, client/
RedisSingleClient.java): SCAN-driven key discovery (`keys` pattern,
`batch_size` COUNT), per-type reads (string/key GET, hash HGETALL,
list LRANGE, set SMEMBERS, zset ZRANGE — one output row per element),
schemaless rows = single `content` string column
(CatalogTableUtil.buildSimpleTextSchema), `format=json` + schema
decodes each value, `hash_key_parse_mode` KV vs ALL.

Spark shape: keys are SCANned once on the driver (SCAN is a
single-connection cursor walk either way — same as the reference's
single reader), then VALUES are fetched executor-side via mapInPandas
over the key list, so the heavy part (value I/O + decode) uses every
core; the reference reads everything through one reader thread.
"""

from __future__ import annotations

import socket

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.net import apply_host_aliases
from seatunnel_spark.sources.base import Source


class RespClient:
    """Minimal RESP2 client (the jedis analog, stdlib-only)."""

    def __init__(self, host: str, port: int, auth: str | None = None,
                 db_num: int = 0, user: str | None = None,
                 timeout: float = 30.0):
        resolved = apply_host_aliases(f"tcp://{host}:{port}")
        hostpart = resolved.split("://", 1)[1]
        host, _, port_s = hostpart.rpartition(":")
        self.sock = socket.create_connection((host, int(port_s)),
                                             timeout=timeout)
        self._buf = b""
        if auth:
            if user:
                self.command("AUTH", user, auth)
            else:
                self.command("AUTH", auth)
        if db_num:
            self.command("SELECT", str(db_num))

    # -- protocol ---------------------------------------------------------
    def _encode(self, *args) -> bytes:
        out = [f"*{len(args)}\r\n".encode()]
        for a in args:
            b = a if isinstance(a, bytes) else str(a).encode()
            out.append(f"${len(b)}\r\n".encode() + b + b"\r\n")
        return b"".join(out)

    def _read_line(self) -> bytes:
        while b"\r\n" not in self._buf:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("redis connection closed")
            self._buf += chunk
        line, self._buf = self._buf.split(b"\r\n", 1)
        return line

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n + 2:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("redis connection closed")
            self._buf += chunk
        data, self._buf = self._buf[:n], self._buf[n + 2:]
        return data

    def _read_reply(self):
        line = self._read_line()
        t, body = line[:1], line[1:]
        if t == b"+":
            return body.decode()
        if t == b"-":
            raise RuntimeError(f"redis error: {body.decode()}")
        if t == b":":
            return int(body)
        if t == b"$":
            n = int(body)
            return None if n == -1 else self._read_exact(n).decode()
        if t == b"*":
            n = int(body)
            return None if n == -1 else [self._read_reply() for _ in range(n)]
        raise RuntimeError(f"redis: bad reply type {line!r}")

    def command(self, *args):
        self.sock.sendall(self._encode(*args))
        return self._read_reply()

    def pipeline(self, commands: list[tuple]) -> list:
        """Send all, then read all — jedis Pipeline.sync()."""
        if not commands:
            return []
        self.sock.sendall(b"".join(self._encode(*c) for c in commands))
        return [self._read_reply() for _ in commands]

    def close(self):
        try:
            self.sock.close()
        except OSError:
            pass

    # -- convenience ------------------------------------------------------
    def scan_keys(self, pattern: str, count: int = 100,
                  type_filter: str | None = None) -> list[str]:
        cursor, keys = "0", []
        while True:
            args = ["SCAN", cursor, "MATCH", pattern, "COUNT", str(count)]
            if type_filter:
                args += ["TYPE", type_filter]
            cursor, batch = self.command(*args)
            keys.extend(batch or [])
            if cursor == "0":
                return sorted(set(keys))


_TYPE_FILTER = {"string": "string", "key": "string", "hash": "hash",
                "list": "list", "set": "set", "zset": "zset"}


class RedisSource(Source):
    NAME = "Redis"

    def _conn_opts(self) -> dict:
        # aliases resolve on the DRIVER — executor workers are long-lived
        # and don't see late env changes (see net.py)
        resolved = apply_host_aliases(
            f"tcp://{self.require('host')}:{int(self.require('port'))}")
        hostpart = resolved.split("://", 1)[1]
        host, _, port = hostpart.rpartition(":")
        return {
            "host": host, "port": int(port),
            "auth": self.opt("auth"), "user": self.opt("user"),
            "db_num": int(self.opt("db_num", 0)),
        }

    def read(self, spark: SparkSession) -> DataFrame:
        import json as _json

        o = self._conn_opts()
        data_type = str(self.opt("data_type", "key")).lower()
        pattern = self.opt("keys") or self.require("key")
        batch = int(self.opt("batch_size", 100))
        kv_mode = str(self.opt("hash_key_parse_mode", "all")).lower() == "kv"

        cl = RespClient(**o)
        try:
            keys = cl.scan_keys(pattern, batch, _TYPE_FILTER.get(data_type))
        finally:
            cl.close()
        kdf = spark.createDataFrame([(k,) for k in keys] or [(None,)],
                                    "k string").filter(F.col("k").isNotNull())
        kdf = kdf.repartition(max(1, min(len(keys),
                                         spark.sparkContext.defaultParallelism)))

        def fetch(batches):
            import pandas as pd

            cl = RespClient(**o)
            try:
                for pdf in batches:
                    vals = []
                    for k in pdf["k"]:
                        if data_type in ("string", "key"):
                            v = cl.command("GET", k)
                            if v is not None:
                                vals.append(v)
                        elif data_type == "hash":
                            flat = cl.command("HGETALL", k) or []
                            m = dict(zip(flat[::2], flat[1::2]))
                            if kv_mode:
                                vals.append(_json.dumps(m))
                            else:
                                vals.append(_json.dumps(m))
                        elif data_type == "list":
                            vals.extend(cl.command("LRANGE", k, 0, -1) or [])
                        elif data_type == "set":
                            vals.extend(sorted(cl.command("SMEMBERS", k) or []))
                        elif data_type == "zset":
                            vals.extend(cl.command("ZRANGE", k, 0, -1) or [])
                        else:
                            raise ValueError(
                                f"Redis: unsupported data_type {data_type!r}")
                    yield pd.DataFrame({"content": vals})
            finally:
                cl.close()

        raw = map_in_pandas(kdf, fetch, "content string")
        schema = self.opt("schema") or {}
        schema_opt = schema.get("fields")
        if not schema_opt and schema.get("columns"):
            schema_opt = {c["name"]: c["type"] for c in schema["columns"]}
        if schema_opt:
            from seatunnel_spark.formats import decode_payload

            return decode_payload(raw.withColumnRenamed("content", "value"),
                                  str(self.opt("format", "json")).upper(),
                                  schema_opt)
        return raw


__all__ = ["RespClient", "RedisSource"]
