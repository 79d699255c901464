"""Kudu source/sink over the krpc wire protocol (kudu_rpc.py).

Reference parity: connector-kudu —
- source: KuduSource.java / KuduSourceSplitEnumerator.java split the
  read into scan tokens (one per tablet); here GetTableLocations
  enumerates tablets on the driver and each tablet scan runs inside an
  executor task via mapInPandas, so the read parallelizes across the
  cluster exactly like the reference's token-per-reader model.
  Options (KuduSourceConfig.java): kudu_masters, table_name,
  scan_token_batch_size_bytes, filter (applied as a Catalyst predicate
  post-scan — a pushdown would translate to ColumnPredicatePB),
  table_list multi-table.
- sink: KuduSinkWriter.java / KuduOutputFormat.java session batching
  (batch_size flush threshold) with the KuduRowSerializer.java RowKind
  mapping: +I -> insert (upsert when save_mode=OVERWRITE), +U ->
  upsert, -D -> delete; -U rows are dropped (the upsert of the paired
  +U supersedes them — the reference serializer rejects them outright).
  ignore_not_found / ignore_not_duplicate filter the matching per-row
  errors like the session's ignoreAllNotFoundRows/DuplicateRows.

At 100 TB: scans are one task per tablet (Kudu's own parallelism
unit); writes batch per Spark partition with only per-row error
strings returned to the driver. No driver-side row materialization in
either direction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark import kudu_rpc as K
from seatunnel_spark.sinks.base import Sink
from seatunnel_spark.sources.base import Source
from seatunnel_spark.types import ROW_KIND_COL, TABLE_ID_COL, parse_schema

_K2SPARK = {
    K.INT8: T.ByteType(), K.INT16: T.ShortType(), K.INT32: T.IntegerType(),
    K.INT64: T.LongType(), K.BOOL: T.BooleanType(), K.FLOAT: T.FloatType(),
    K.DOUBLE: T.DoubleType(), K.STRING: T.StringType(),
    K.VARCHAR: T.StringType(), K.BINARY: T.BinaryType(),
    K.UNIXTIME_MICROS: T.TimestampType(), K.DATE: T.DateType(),
}
_SPARK2K = {
    T.ByteType(): K.INT8, T.ShortType(): K.INT16, T.IntegerType(): K.INT32,
    T.LongType(): K.INT64, T.BooleanType(): K.BOOL, T.FloatType(): K.FLOAT,
    T.DoubleType(): K.DOUBLE, T.StringType(): K.STRING,
    T.BinaryType(): K.BINARY, T.TimestampType(): K.UNIXTIME_MICROS,
    T.DateType(): K.DATE,
}


def spark_schema(cols: list[K.Column]) -> T.StructType:
    return T.StructType([
        T.StructField(c.name, _K2SPARK.get(c.ktype, T.StringType()),
                      c.nullable) for c in cols
    ])


def kudu_columns(schema: T.StructType, key_cols: list[str]) -> list[K.Column]:
    out = []
    for f in schema.fields:
        kt = _SPARK2K.get(f.dataType)
        if kt is None:
            # KuduTypeMapper.java maps DECIMAL to kudu decimals; the
            # wire codec here carries them as canonical strings.
            kt = K.STRING
        out.append(K.Column(f.name, kt, f.name in key_cols,
                            f.nullable and f.name not in key_cols))
    return out


class KuduSource(Source):
    NAME = "Kudu"

    def read(self, spark: SparkSession):
        table_list = self.opt("table_list")
        if table_list:
            # multi-table: dict {table: df} — the engine routes per
            # table (KuduSourceTableConfig.of's table_list form)
            out = {tc["table_name"]: self._read_table(spark, tc["table_name"])
                   for tc in table_list}
            return out if len(out) > 1 else next(iter(out.values()))
        return self._read_table(spark, self.require("table_name"))

    def _read_table(self, spark: SparkSession, table: str) -> DataFrame:
        masters = self.require("kudu_masters")
        user = self.opt("client_user", "seatunnel")
        batch_bytes = int(self.opt("scan_token_batch_size_bytes", 1 << 20))
        cl = K.KuduClient(masters, user)
        try:
            cols = cl.table_schema(table)
            fields = (self.opt("schema") or {}).get("fields")
            if fields:
                wanted = list(parse_schema(fields).fieldNames())
                cols = [c for c in cols if c.name in wanted]
            locations = cl.table_locations(table)
        finally:
            cl.close()
        schema = spark_schema(cols)
        col_specs = [(c.name, c.ktype, c.is_key, c.nullable) for c in cols]
        splits = [(i, loc[0], loc[1], int(loc[2]))
                  for i, loc in enumerate(locations)]

        def scan_split(iterator):
            import pandas as pd

            cols_local = [K.Column(*s) for s in col_specs]
            names = [c.name for c in cols_local]
            for pdf in iterator:
                for _, r in pdf.iterrows():
                    cl = K.KuduClient(f"{r['host']}:{r['port']}", user)
                    try:
                        rows = list(cl.scan_tablet(
                            r["host"], int(r["port"]),
                            bytes(r["tablet_id"]), cols_local, batch_bytes))
                    finally:
                        cl.close()
                    yield pd.DataFrame(rows, columns=names)

        split_df = spark.createDataFrame(
            [(i, bytearray(tid), host, port) for i, tid, host, port in splits],
            "i int, tablet_id binary, host string, port int",
        ).repartition(max(len(splits), 1), "i")
        df = map_in_pandas(split_df, scan_split, schema)
        flt = self.opt("filter")
        if flt:
            df = df.filter(flt)
        return df


class KuduSink(Sink):
    NAME = "Kudu"

    def wants_observation(self) -> bool:
        return False

    table_groups: dict[str, DataFrame] | None = None
    input_name: str = "sink"

    def write(self, df: DataFrame) -> None:
        table = self.opt("table_name")
        if table:
            self._write_one(df, str(table))
            return
        # no table_name: per-table fan-out (the reference resolves the
        # sink table from the source's catalog table — multi-table conf
        # `fake_to_kudu_with_multipletable.conf` has a bare kudu{} sink)
        if self.table_groups:
            for tid, tdf in self.table_groups.items():
                self._write_one(tdf, tid.split(".")[-1])
            return
        self._write_one(df, self.input_name)

    def _write_one(self, df: DataFrame, table: str) -> None:
        masters = self.require("kudu_masters")
        user = self.opt("client_user", "seatunnel")
        batch = int(self.opt("batch_size", 1024))
        overwrite = str(self.opt("save_mode", "append")).lower() == "overwrite"
        ignore_not_found = bool(self.opt("ignore_not_found", False))
        ignore_duplicate = bool(self.opt("ignore_not_duplicate", False))

        has_kind = ROW_KIND_COL in df.columns
        meta = [c for c in (ROW_KIND_COL, TABLE_ID_COL) if c in df.columns]
        data_df = df.drop(*meta) if meta else df

        cl = K.KuduClient(masters, user)
        try:
            server_cols = cl.table_schema(table)
            locations = cl.table_locations(table)
        finally:
            cl.close()
        key_names = [c.name for c in server_cols if c.is_key]
        cols = kudu_columns(data_df.schema, key_names)
        col_specs = [(c.name, c.ktype, c.is_key, c.nullable) for c in cols]
        names = [c.name for c in cols]
        # Key-to-tablet routing: murmur2 hash-bucket over the encoded
        # key columns (kudu_rpc.hash_bucket — Kudu's single-level
        # HASH(keys) PARTITIONS n scheme, the CREATE TABLE default the
        # reference connector emits). GetTableLocations returns tablets
        # in partition-key order, so bucket i == locations[i]. Rows are
        # batched PER TABLET and each batch goes to its own leader —
        # no cross-tablet writes.
        locs = [(tid, h, int(p)) for tid, h, p in locations]

        def write_partition(rows):
            cols_local = [K.Column(*s) for s in col_specs]
            clients: dict[str, K.KuduClient] = {}
            pending: dict[int, list[tuple[int, tuple]]] = {
                i: [] for i in range(len(locs))}

            def conn(host, port):
                key = f"{host}:{port}"
                if key not in clients:
                    clients[key] = K.KuduClient(key, user)
                return clients[key]

            def flush(i):
                if not pending[i]:
                    return
                tablet_id, host, port = locs[i]
                errors = conn(host, port).write(
                    host, port, tablet_id, cols_local, list(pending[i]))
                for _idx, msg in errors:
                    if "not found" in msg and ignore_not_found:
                        continue
                    if "already present" in msg and ignore_duplicate:
                        continue
                    raise RuntimeError(f"kudu write error: {msg}")
                pending[i].clear()

            try:
                for row in rows:
                    d = row.asDict(recursive=True)
                    kind = str(d.get(ROW_KIND_COL, "+I")) if has_kind else "+I"
                    if kind == "-U":
                        continue
                    vals = tuple(d.get(n) for n in names)
                    if kind == "-D":
                        op = K.OP_DELETE
                    elif kind == "+U" or overwrite:
                        op = K.OP_UPSERT
                    else:
                        op = K.OP_INSERT
                    b = (K.hash_bucket(cols_local, vals, len(locs))
                         if len(locs) > 1 else 0)
                    pending[b].append((op, vals))
                    if len(pending[b]) >= batch:
                        flush(b)
                for i in range(len(locs)):
                    flush(i)
            finally:
                for c in clients.values():
                    c.close()

        df.foreachPartition(write_partition)


__all__ = ["KuduSource", "KuduSink", "spark_schema", "kudu_columns"]
