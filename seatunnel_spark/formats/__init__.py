"""Serialization format decoders (seatunnel-formats rebuild).

Reference: seatunnel-format-json (JsonDeserializationSchema.java),
.../canal/CanalJsonDeserializationSchema.java,
.../debezium/DebeziumJsonDeserializationSchema.java, maxwell/, ogg/
(SURVEY.md §2.6).

Each decoder is a pure DataFrame function over a `value: string/binary`
column (Kafka wire shape) producing typed columns + `__row_kind` for
the CDC envelopes. Everything is from_json/explode — JVM-side,
streaming-safe (no aggregation), and identical in batch and streaming.

CDC envelope -> RowKind mapping (reference semantics):
  debezium op: c/r -> +I, u -> -U then +U (before+after), d -> -D
  canal  type: INSERT -> +I, UPDATE -> -U/+U, DELETE -> -D
  maxwell type: insert -> +I, update -> -U/+U, delete -> -D
  ogg  op_type: I -> +I, U -> -U/+U, D -> -D
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.types import ROW_KIND_COL, parse_schema


def _schema_of(schema_opt) -> T.StructType:
    if schema_opt is None:
        raise ValueError("this format requires an explicit schema {fields {...}}")
    if isinstance(schema_opt, T.StructType):
        return schema_opt
    if isinstance(schema_opt, dict) and "columns" in schema_opt \
            and "fields" not in schema_opt:
        # columns-list form: [{name, type, nullable?, ...}]
        return parse_schema({c["name"]: c["type"]
                             for c in schema_opt["columns"]})
    return parse_schema(schema_opt.get("fields", schema_opt))


def _value_str(df: DataFrame) -> Column:
    col = F.col("value")
    if dict(df.dtypes).get("value") == "binary":
        col = col.cast("string")
    return col


def decode_json(df: DataFrame, schema_opt,
                error_handle_way: str = "fail") -> DataFrame:
    """error_handle_way mirrors the reference's
    format_error_handle_way (MessageFormatErrorHandleWay): 'skip'
    drops undecodable records (from_json -> null struct), 'fail'
    surfaces them as an execution error (FAILFAST)."""
    schema = _schema_of(schema_opt)
    way = str(error_handle_way or "fail").lower()
    opts = {} if way == "skip" else {"mode": "FAILFAST"}
    value = _value_str(df)
    out = df.select(value.alias("__v"),
                    F.from_json(value, schema, opts).alias("r"))
    if way == "skip":
        # drop undecodable records AND null-value (tombstone) records —
        # a null Kafka value has nothing to decode; keeping it would
        # emit an all-null +I row
        out = out.filter(F.col("r").isNotNull())
    return out.select("r.*").withColumn(ROW_KIND_COL, F.lit("+I"))


def decode_text(df: DataFrame, schema_opt, delimiter: str = ",",
                error_handle_way: str = "fail") -> DataFrame:
    """Delimited-text decode. Complex fields (map/array/struct) are
    JSON inside their slot, like the reference's TextSerializationSchema.

    format_error_handle_way: 'fail' lets the ANSI cast raise on any
    malformed field (TextDeserializationSchema throws); 'skip' drops a
    row when the line is short OR any present field fails its typed
    parse (try_cast/from_json null on non-null input) — the
    reference's whole-row-skip-on-exception semantics.

    No declared schema -> the whole value becomes one non-null STRING
    column `content` (KafkaSourceConfig.createCatalogTable's default
    single-field table; the exactly-once confs rely on it)."""
    if schema_opt is None:
        return (df.select(_value_str(df).alias("content"))
                .filter(F.col("content").isNotNull())
                .withColumn(ROW_KIND_COL, F.lit("+I")))
    schema = _schema_of(schema_opt)
    parts = F.split(_value_str(df), delimiter)
    skip = str(error_handle_way or "fail").lower() == "skip"

    def conv(i: int, f: T.StructField):
        raw = F.try_element_at(parts, F.lit(i + 1)) if skip else parts.getItem(i)
        if isinstance(f.dataType, (T.MapType, T.ArrayType, T.StructType)):
            return F.from_json(raw, f.dataType)
        return raw.try_cast(f.dataType) if skip else raw.cast(f.dataType)

    out = df
    if skip:
        out = out.filter(F.size(parts) >= len(schema.fields))
        raws = [F.try_element_at(parts, F.lit(i + 1))
                for i in range(len(schema.fields))]
        typed = [conv(i, f) for i, f in enumerate(schema.fields)]
        bad = None
        for r, t in zip(raws, typed):
            b = r.isNotNull() & (F.length(F.trim(r)) > 0) & t.isNull()
            bad = b if bad is None else (bad | b)
        out = out.filter(~bad)
    cols = [conv(i, f).alias(f.name) for i, f in enumerate(schema.fields)]
    return out.select(*cols).withColumn(ROW_KIND_COL, F.lit("+I"))


def _lenient_schema(schema: T.StructType) -> T.StructType:
    """Envelope-payload schema with primitives as STRINGS: CDC writers
    (canal especially) emit every scalar as a JSON string ("id":"1101"),
    and from_json with a typed field nulls those out. Decode text-first,
    cast after — the reference's JsonToRowConverters leniency."""
    return T.StructType([
        T.StructField(
            f.name,
            f.dataType if isinstance(
                f.dataType, (T.MapType, T.ArrayType, T.StructType))
            else T.StringType())
        for f in schema.fields
    ])


def _typed_field(payload: Column, f: T.StructField,
                 lenient_numbers: bool = False) -> Column:
    if isinstance(f.dataType, (T.MapType, T.ArrayType, T.StructType)):
        return payload[f.name].alias(f.name)
    if isinstance(f.dataType, T.BinaryType):
        # JSON carries bytes base64-encoded (JsonToRowConverters)
        return F.unbase64(payload[f.name]).alias(f.name)
    raw = payload[f.name]
    if isinstance(f.dataType, T.TimestampType):
        # debezium temporal types ship epoch MILLIS integers
        # (io.debezium.time.Timestamp); a digits-only value is never a
        # valid ISO timestamp, so the dual decode is unambiguous. The
        # trailing-Z ISO form (io.debezium.time.ZonedTimestamp) casts
        # natively.
        return F.when(raw.rlike(r"^-?\d+$"),
                      F.timestamp_millis(raw.cast("long"))) \
            .otherwise(raw.cast(f.dataType)).alias(f.name)
    if isinstance(f.dataType, T.DateType):
        # io.debezium.time.Date = days since epoch
        return F.when(raw.rlike(r"^-?\d+$"),
                      F.date_add(F.lit("1970-01-01").cast("date"),
                                 raw.cast("int"))) \
            .otherwise(raw.cast(f.dataType)).alias(f.name)
    if getattr(T, "TimeType", None) is not None and \
            isinstance(f.dataType, T.TimeType):
        # io.debezium.time.MicroTime = MICROS since midnight
        return F.when(
            raw.rlike(r"^\d+$"),
            (F.timestamp_micros(raw.cast("long"))
             .cast("string").substr(12, 15)).cast(f.dataType)) \
            .otherwise(raw.cast(f.dataType)).alias(f.name)
    if lenient_numbers and isinstance(
            f.dataType, (T.ByteType, T.ShortType, T.IntegerType,
                         T.LongType)):
        # DebeziumRowConverter leniency: a non-numeric value in a
        # numeric slot (base64 Bits mapped to an int column) converts
        # to 0, never an execution error — KafkaFormatIT's expected
        # f_bit64 row is (byte) 0
        return F.coalesce(raw.try_cast(f.dataType),
                          F.lit(0).cast(f.dataType)).alias(f.name)
    return raw.cast(f.dataType).alias(f.name)



# feed-position carriage: one Kafka record may expand to several
# changelog rows (canal's data array); scale the record offset so the
# in-record index keeps sub-order. 2^20 rows per record, offsets up to
# 2^40 -> 61 bits. Per-key ordering only needs within-partition order
# (keys are partition-sticky), so the partition id is NOT packed in.
_OFFSET_SCALE = 1 << 20


def _carry_offset(df):
    if "__offset" not in df.columns:
        return []
    return [(F.col("__offset") * F.lit(_OFFSET_SCALE)).alias("__offset")]


def _two_phase(df: DataFrame, schema: T.StructType, before: Column, after: Column,
               op: Column, ins: str, upd: str, dele: str,
               lenient_numbers: bool = False) -> DataFrame:
    """Shared CDC expansion: updates emit -U (before) then +U (after).
    `before`/`after` are structs in the _lenient_schema shape; the
    final projection casts them to the declared types.

    When the input frame carries a `__offset` feed position (the Kafka
    record offset), it rides through the expansion so keyed sinks
    resolve last-event-per-key by CONSUME ORDER, not content — the
    reference's per-partition apply order. A -U and its +U share the
    offset; the sinks' kind-rank tiebreak resolves that pair."""
    rows = F.filter(
        F.array(
            F.struct(
                F.when(op == dele, before).otherwise(
                    F.when(op == upd, before).otherwise(after)
                ).alias("payload"),
                F.when(op == ins, F.lit("+I"))
                .when(op == upd, F.lit("-U"))
                .when(op == dele, F.lit("-D"))
                .alias("kind"),
            ),
            F.struct(
                after.alias("payload"),
                F.when(op == upd, F.lit("+U")).alias("kind"),
            ),
        ),
        lambda s: s["kind"].isNotNull(),
    )
    carry = [F.col("__offset")] if "__offset" in df.columns else []
    exploded = df.select(F.explode(rows).alias("e"), *carry)
    payload = F.col("e.payload")
    return exploded.select(
        *[_typed_field(payload, f, lenient_numbers)
          for f in schema.fields],
        F.col("e.kind").alias(ROW_KIND_COL),
        *([F.col("__offset")] if carry else []),
    )


def decode_debezium(df: DataFrame, schema_opt) -> DataFrame:
    """Debezium envelope {before, after, op} (DebeziumRowConverter.java).
    Accepts BOTH the plain envelope and the Connect-wrapped
    {schema: {...}, payload: {before, after, op}} form Debezium emits
    with schemas.enable (the reference's deserializer reads the
    payload member when present)."""
    schema = _schema_of(schema_opt)
    lenient = _lenient_schema(schema)
    inner = [
        T.StructField("before", lenient),
        T.StructField("after", lenient),
        T.StructField("op", T.StringType()),
    ]
    env = T.StructType(inner + [
        T.StructField("payload", T.StructType(inner)),
    ])
    raw = df.select(F.from_json(_value_str(df), env).alias("w"),
                    *_carry_offset(df))
    p = raw.select(
        F.struct(
            F.coalesce(F.col("w.payload.before"), F.col("w.before"))
            .alias("before"),
            F.coalesce(F.col("w.payload.after"), F.col("w.after"))
            .alias("after"),
            F.coalesce(F.col("w.payload.op"), F.col("w.op")).alias("op"),
        ).alias("v"),
        *([F.col("__offset")] if "__offset" in raw.columns else []))
    op = F.when(F.col("v.op").isin("c", "r"), F.lit("I")).when(
        F.col("v.op") == "u", F.lit("U")
    ).otherwise(F.lit("D"))
    return _two_phase(p, schema, F.col("v.before"), F.col("v.after"),
                      op, "I", "U", "D", lenient_numbers=True)


def _decode_array_env(df: DataFrame, schema: T.StructType, data_field: str,
                      old_field: str, type_field: str,
                      ins: str, upd: str, dele: str) -> DataFrame:
    """Canal/Maxwell-style envelope where `data` is an array of rows."""
    lenient = _lenient_schema(schema)
    env = T.StructType(
        [
            T.StructField(data_field, T.ArrayType(lenient)),
            T.StructField(old_field, T.ArrayType(lenient)),
            T.StructField(type_field, T.StringType()),
        ]
    )
    p = df.select(F.from_json(_value_str(df), env).alias("v"),
                  *_carry_offset(df))
    n = F.coalesce(F.size(f"v.{data_field}"), F.lit(0))
    idx = p.select(
        F.col("v"), F.explode(F.sequence(F.lit(0), n - 1)).alias("i"),
        *([F.col("__offset")] if "__offset" in p.columns else []))
    if "__offset" in idx.columns:
        # record offset (already scaled) + in-record element index
        idx = idx.withColumn("__offset", F.col("__offset") + F.col("i"))
    op = F.upper(F.col(f"v.{type_field}"))
    row = F.col(f"v.{data_field}")[F.col("i")]
    old_item = F.col(f"v.{old_field}")[F.col("i")]
    # canal's `old` carries ONLY the changed fields — the before-image
    # is old overlaid on data per field (CanalJsonDeserializationSchema)
    old = F.struct(*[
        F.coalesce(old_item[f.name], row[f.name]).alias(f.name)
        for f in lenient.fields
    ])
    return _two_phase(idx, schema, old, row, op, ins, upd, dele)


def decode_canal(df: DataFrame, schema_opt) -> DataFrame:
    """Canal envelope {data:[...], old:[...], type} (CanalJsonDeserializationSchema.java)."""
    schema = _schema_of(schema_opt)
    return _decode_array_env(df, schema, "data", "old", "type",
                             "INSERT", "UPDATE", "DELETE")


def decode_maxwell(df: DataFrame, schema_opt) -> DataFrame:
    """Maxwell envelope {data:{...}, old:{...}, type} — single-row data."""
    schema = _schema_of(schema_opt)
    lenient = _lenient_schema(schema)
    env = T.StructType(
        [
            T.StructField("data", lenient),
            T.StructField("old", lenient),
            T.StructField("type", T.StringType()),
        ]
    )
    p = df.select(F.from_json(_value_str(df), env).alias("v"),
                  *_carry_offset(df))
    op = F.upper(F.col("v.type"))
    # Maxwell's `old` holds only changed fields; merge per field onto
    # data for the before-image.
    old = F.struct(*[
        F.coalesce(F.col("v.old")[f.name], F.col("v.data")[f.name])
        .alias(f.name) for f in lenient.fields
    ])
    return _two_phase(p, schema, old, F.col("v.data"), op,
                      "INSERT", "UPDATE", "DELETE")


def decode_ogg(df: DataFrame, schema_opt) -> DataFrame:
    """Oracle GoldenGate envelope {before, after, op_type: I|U|D}."""
    schema = _schema_of(schema_opt)
    lenient = _lenient_schema(schema)
    env = T.StructType(
        [
            T.StructField("before", lenient),
            T.StructField("after", lenient),
            T.StructField("op_type", T.StringType()),
        ]
    )
    p = df.select(F.from_json(_value_str(df), env).alias("v"),
                  *_carry_offset(df))
    op = F.upper(F.col("v.op_type"))
    return _two_phase(p, schema, F.col("v.before"), F.col("v.after"), op, "I", "U", "D")


def decode_kafka_connect(df: DataFrame, schema_opt) -> DataFrame:
    """Kafka Connect JSON envelope {schema: {...}, payload: {...}}
    (seatunnel-format-compatible-connect-json): the declared row schema
    applies to `payload`; the inline `schema` member is ignored (the
    job config is the source of truth, as in the reference)."""
    schema = _schema_of(schema_opt)
    env = T.StructType([T.StructField("payload", schema)])
    return (
        df.select(F.from_json(_value_str(df), env).alias("v"))
        .select("v.payload.*")
        .withColumn(ROW_KIND_COL, F.lit("+I"))
    )


def decode_protobuf(df: DataFrame, schema_opt, descriptor_file: str | None = None,
                    message_name: str | None = None,
                    proto_src: str | None = None) -> DataFrame:
    """Protobuf payload. With inline `protobuf_schema` proto3 source
    (the reference's CompileDescriptor.java path) the stdlib dynamic
    codec (protobuf_codec.py) decodes datums via mapInPandas — no
    protoc, no jar. A compiled descriptor file still routes through
    spark-protobuf when provided."""
    if proto_src and message_name:
        if schema_opt is None:
            raise ValueError("protobuf format needs schema {fields} "
                             "alongside inline protobuf_schema")
        schema = _schema_of(schema_opt)
        schema_json = schema.json()

        def run(batches):
            import pandas as pd

            from seatunnel_spark.protobuf_codec import (
                decode_message,
                lenient_get,
                parse_proto,
            )

            sch = T.StructType.fromJson(json.loads(schema_json))
            messages = parse_proto(proto_src)

            def conform(v, dt):
                # prune/reshape decoded dicts to the DECLARED schema —
                # proto messages may carry extra fields (Address.zip)
                # the Spark struct doesn't declare
                if v is None:
                    return None
                if isinstance(dt, T.StructType):
                    return {f.name: conform(lenient_get(v, f.name),
                                            f.dataType)
                            for f in dt.fields}
                if isinstance(dt, T.ArrayType):
                    return [conform(x, dt.elementType) for x in v]
                if isinstance(dt, T.MapType):
                    return {k: conform(x, dt.valueType)
                            for k, x in dict(v).items()}
                return v

            for pdf in batches:
                recs = []
                for v in pdf["value"]:
                    if v is None:
                        continue
                    b = bytes(v) if isinstance(v, (bytes, bytearray)) \
                        else str(v).encode("latin-1")
                    d = decode_message(messages, message_name, b)
                    recs.append(tuple(
                        conform(lenient_get(d, f.name), f.dataType)
                        for f in sch.fields))
                names = [f.name for f in sch.fields]
                yield (pd.DataFrame.from_records(recs, columns=names)
                       if recs else pd.DataFrame({n: [] for n in names}))

        return (map_in_pandas(df.select(F.col("value")), run, schema)
                .withColumn(ROW_KIND_COL, F.lit("+I")))

    from pyspark.sql.protobuf.functions import from_protobuf

    if not descriptor_file or not message_name:
        raise ValueError(
            "protobuf format requires protobuf_schema (inline proto3 "
            "source) or protobuf_schema_file (compiled FileDescriptorSet) "
            "plus protobuf_message_name"
        )
    return (
        df.select(
            from_protobuf(F.col("value"), message_name,
                          descFilePath=descriptor_file).alias("r")
        )
        .select("r.*")
        .withColumn(ROW_KIND_COL, F.lit("+I"))
    )


def _avro_jar_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataToCatalyst")
        return True
    except Exception:  # noqa: BLE001
        return False


def decode_avro(df: DataFrame, schema_opt, avro_schema_json: str | None = None) -> DataFrame:
    if avro_schema_json is not None and _avro_jar_available(df.sparkSession):
        from pyspark.sql.avro.functions import from_avro

        return (
            df.select(from_avro(F.col("value"), avro_schema_json).alias("r"))
            .select("r.*")
            .withColumn(ROW_KIND_COL, F.lit("+I"))
        )
    # stdlib fallback (avro_codec.py): the reference's format-avro
    # derives the record schema from the declared row type
    # (AvroSchemaConverter — every field a ["null", T] union), so the
    # declared schema drives the datum decode without spark-avro.
    if schema_opt is None:
        raise ValueError(
            "avro format requires schema {fields {...}} (or avro_schema "
            "with the spark-avro jar on the classpath)")
    schema = _schema_of(schema_opt)
    schema_json = schema.json()

    def run(batches):
        import pandas as pd

        from seatunnel_spark.avro_codec import decode_row

        sch = T.StructType.fromJson(json.loads(schema_json))
        names = [f.name for f in sch.fields]
        for pdf in batches:
            recs = []
            for v in pdf["value"]:
                if v is None:
                    continue
                b = v if isinstance(v, (bytes, bytearray)) else \
                    str(v).encode("latin-1")
                try:
                    d = decode_row(sch, bytes(b))
                except Exception:  # noqa: BLE001 — skip undecodable
                    continue
                recs.append(tuple(d.get(n) for n in names))
            yield (pd.DataFrame.from_records(recs, columns=names)
                   if recs else pd.DataFrame({n: [] for n in names}))

    value_df = df.select(F.col("value"))
    return (map_in_pandas(value_df, run, schema)
            .withColumn(ROW_KIND_COL, F.lit("+I")))


_DECODERS = {
    "JSON": decode_json,
    "TEXT": decode_text,
    "DEBEZIUM_JSON": decode_debezium,
    "COMPATIBLE_DEBEZIUM_JSON": decode_debezium,
    "CANAL_JSON": decode_canal,
    "MAXWELL_JSON": decode_maxwell,
    "OGG_JSON": decode_ogg,
    "COMPATIBLE_KAFKA_CONNECT_JSON": decode_kafka_connect,
}


def decode_payload(df: DataFrame, fmt: str, schema_opt, delimiter: str = ",",
                   **opts) -> DataFrame:
    fmt = fmt.upper()
    way = opts.get("error_handle_way", "fail")
    if fmt == "TEXT":
        return decode_text(df, schema_opt, delimiter, way)
    if fmt == "AVRO":
        return decode_avro(df, schema_opt, opts.get("avro_schema"))
    if fmt == "PROTOBUF":
        return decode_protobuf(df, schema_opt, opts.get("protobuf_schema_file"),
                               opts.get("protobuf_message_name"),
                               opts.get("protobuf_schema"))
    if fmt not in _DECODERS:
        raise ValueError(f"unknown message format {fmt!r}; known: {sorted(_DECODERS)}")
    if fmt == "JSON":
        return decode_json(df, schema_opt, way)
    return _DECODERS[fmt](df, schema_opt)
