"""Kafka sink + webhook-family sinks (Slack/DingTalk/Feishu/Email/Http).

Reference: connector-kafka sink, connector-slack, connector-dingtalk,
connector-email, connector-http sink (SURVEY.md §2.5).

KafkaSink: rows are serialized to a `value` string (JSON by default,
matching seatunnel-format-json) and written with the native Spark
Kafka writer — batch and streaming share the path. Exactly-once for
streaming comes from checkpoint + Kafka idempotent producer config.

WebhookSink: driver-side POST of (small) result payloads — the shape
the reference uses for notification sinks. The poster is injectable
for tests; real network is gated.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.sinks.base import Sink


class KafkaSink(Sink):
    NAME = "Kafka"

    def _serialize(self, df: DataFrame) -> DataFrame:
        from seatunnel_spark.types import ROW_KIND_COL, TABLE_ID_COL

        fmt = str(self.opt("format", "json")).lower()
        key_field = self.opt("partition_key_fields")
        from pyspark.sql import types as T

        if getattr(T, "TimeType", None) is not None:
            # to_json cannot serialize TIME columns — emit their
            # canonical HH:mm:ss form (TimeSerializationSchema analog)
            for f in df.schema.fields:
                if isinstance(f.dataType, T.TimeType):
                    df = df.withColumn(f.name,
                                       F.col(f.name).cast("string"))
        data_cols = [c for c in df.columns
                     if c not in (ROW_KIND_COL, TABLE_ID_COL)]
        cols = {}
        if fmt == "json":
            # data_cols, NOT df.columns: internal meta columns
            # (__row_kind/__table_id) must never leak into the payload
            cols["value"] = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
        elif fmt == "text":
            sep = self.opt("field_delimiter", ",")
            cols["value"] = F.concat_ws(sep, *[F.col(c).cast("string")
                                               for c in data_cols])
        elif fmt in ("canal_json", "maxwell_json", "ogg_json"):
            # CanalJsonSerializationSchema shape (maxwell/ogg sinks in
            # the reference serialize identically — KafkaFormatIT
            # expects {"data":{...},"type":"INSERT"|"DELETE"} for all
            # three): +I/+U -> INSERT, -U/-D -> DELETE, so an update
            # rides as a DELETE/INSERT pair.
            kind = (F.col(ROW_KIND_COL) if ROW_KIND_COL in df.columns
                    else F.lit("+I"))
            typ = F.when(kind.isin("+I", "+U"), F.lit("INSERT")) \
                .otherwise(F.lit("DELETE"))
            cols["value"] = F.to_json(F.struct(
                F.struct(*[F.col(c) for c in data_cols]).alias("data"),
                typ.alias("type")))
        elif fmt == "debezium_json":
            # DebeziumJsonSerializationSchema: upserts as op=c with
            # after, deletes (and the -U half) as op=d with before.
            kind = (F.col(ROW_KIND_COL) if ROW_KIND_COL in df.columns
                    else F.lit("+I"))
            payload = F.struct(*[F.col(c) for c in data_cols])
            is_del = kind.isin("-D", "-U")
            cols["value"] = F.to_json(F.struct(
                F.when(is_del, payload).alias("before"),
                F.when(~is_del, payload).alias("after"),
                F.when(is_del, F.lit("d")).otherwise(F.lit("c")).alias("op"),
            ))
        elif fmt == "avro":
            from seatunnel_spark.formats import _avro_jar_available

            data_df = df.select(*data_cols)
            if _avro_jar_available(df.sparkSession):
                from pyspark.sql.avro.functions import to_avro

                cols["value"] = to_avro(F.struct(*[F.col(c)
                                                   for c in data_cols]))
            else:
                # stdlib datum encode (avro_codec.py) via mapInPandas
                schema_json = data_df.schema.json()

                def enc(batches):
                    import json as _json

                    import pandas as pd
                    from pyspark.sql import types as T

                    from seatunnel_spark.avro_codec import encode_record

                    sch = T.StructType.fromJson(_json.loads(schema_json))
                    for pdf in batches:
                        vals = [encode_record(sch, rec) for rec in
                                pdf.to_dict("records")]
                        yield pd.DataFrame({"value": vals})

                return map_in_pandas(data_df, enc, "value binary")
        elif fmt == "protobuf":
            proto_src = self.require("protobuf_schema")
            message_name = self.require("protobuf_message_name")
            data_df = df.select(*data_cols)
            schema_json = data_df.schema.json()

            def penc(batches):
                import json as _json

                import pandas as pd
                from pyspark.sql import types as T

                from seatunnel_spark.protobuf_codec import (
                    encode_message,
                    parse_proto,
                )

                sch = T.StructType.fromJson(_json.loads(schema_json))
                messages = parse_proto(proto_src)
                for pdf in batches:
                    vals = [encode_message(messages, message_name, rec)
                            for rec in pdf.to_dict("records")]
                    yield pd.DataFrame({"value": vals})

            return map_in_pandas(data_df, penc, "value binary")
        else:
            raise ValueError(f"Kafka sink format {fmt!r} not supported")
        if key_field:
            cols["key"] = F.concat_ws("|", *[F.col(c).cast("string")
                                             for c in key_field])
        topic_col = self._topic_template_col()
        out = [cols["value"].alias("value")]
        if "key" in cols:
            out.append(cols["key"].alias("key"))
        if topic_col is not None:
            out.append(topic_col.alias("topic"))
        return df.select(out)

    def _topic_template_col(self):
        """`topic = "${field}"` routes each row by its own field value
        (sink-options-placeholders semantics; extractTopic e2e conf).
        Returns a per-row topic Column, or None for a literal topic —
        the Spark kafka writer natively honors a `topic` column."""
        import re

        t = str(self.require("topic"))
        if "${" not in t:
            return None
        segs = re.split(r"\$\{([^}]+)\}", t)
        cols = []
        for i, seg in enumerate(segs):
            if i % 2 == 0:
                if seg:
                    cols.append(F.lit(seg))
            else:
                cols.append(F.col(seg).cast("string"))
        return F.concat(*cols) if len(cols) > 1 else cols[0]

    def _options(self) -> dict:
        opts = {"kafka.bootstrap.servers": self.require("bootstrap.servers")}
        if self._topic_template_col() is None:
            opts["topic"] = self.require("topic")
        # else: the serialized frame carries a per-row `topic` column
        for k, v in (self.opt("kafka.config") or {}).items():
            opts[f"kafka.{k}"] = v
        return opts

    def wants_observation(self) -> bool:
        # wire fallback writes via foreachPartition (RDD action)
        from seatunnel_spark.sources.stream import _kafka_jar_available

        try:
            from seatunnel_spark.session import get_spark

            return _kafka_jar_available(get_spark())
        except Exception:  # noqa: BLE001
            return False

    def _wire_write(self, df: DataFrame) -> None:
        """Stdlib wire-protocol produce: one connection per partition,
        keyed rows route by hash(key) % partitions (the default Kafka
        partitioner's contract), else rows stay on their Spark
        partition modulo the topic's partition count.

        semantics = EXACTLY_ONCE (KafkaSemantics / KafkaTransactionSender
        in the reference, connector-kafka/.../sink/KafkaTransactionSender
        .java): every Spark task wraps its records in ONE Kafka
        transaction — InitProducerId(transactional.id) /
        AddPartitionsToTxn / transactional Produce with idempotent
        sequences / EndTxn(commit); any failure aborts. A task RETRY
        re-inits the same transactional.id (`<prefix>-<partition idx>`,
        generateTransactionId's prefix-dash-id shape), which bumps the
        producer epoch and fences + aborts the zombie attempt's open
        transaction — so read_committed consumers see each task's
        output exactly once."""
        from seatunnel_spark.kafka_wire import KafkaWireClient, resolve_bootstrap

        bootstrap = resolve_bootstrap(self.require("bootstrap.servers"))
        from seatunnel_spark.kafka_wire import sasl_gssapi_config

        sasl = sasl_gssapi_config(self.opt("kafka.config"),
                                  str(self.require("bootstrap.servers")))
        topic = self.require("topic")
        templated = self._topic_template_col() is not None

        fixed = self.opt("partition")
        # `partition = N` pins every record (KafkaSinkConfig) — the
        # format ITs use it to make consume order deterministic
        fixed = int(fixed) if fixed is not None else None
        exactly_once = str(self.opt("semantics", "AT_LEAST_ONCE")) \
            .upper() == "EXACTLY_ONCE"
        txn_prefix = str(self.opt("transaction_prefix") or "SeaTunnel0000")

        def produce_partition(idx, rows):
            from seatunnel_spark.kafka_wire import KafkaWireClient as _C

            cl = _C(bootstrap, sasl=sasl)
            parts_by_topic: dict[str, list[int]] = {}

            def parts_of(t: str) -> list[int]:
                if t not in parts_by_topic:
                    parts_by_topic[t] = ([fixed] if fixed is not None else
                                         cl.metadata([t]).get(t, [0]) or [0])
                return parts_by_topic[t]

            try:
                buckets: dict[tuple[str, int], list] = {}
                for row in rows:
                    t = row["topic"] if templated else topic
                    parts = parts_of(t)
                    key = row["key"].encode() if "key" in row and \
                        row["key"] is not None else None
                    rv = row["value"]
                    value = (None if rv is None
                             else bytes(rv) if isinstance(rv, (bytes, bytearray))
                             else rv.encode())
                    if key is not None:
                        p = parts[hash(key) % len(parts)]
                    else:
                        p = parts[idx % len(parts)]
                    buckets.setdefault((t, p), []).append((key, value))
                if exactly_once:
                    txn_id = f"{txn_prefix}-{idx}"
                    pid, epoch = cl.init_producer_id(txn_id)
                    if buckets:
                        by_topic: dict[str, list[int]] = {}
                        for (t, p) in buckets:
                            by_topic.setdefault(t, []).append(p)
                        cl.add_partitions_to_txn(txn_id, pid, epoch, by_topic)
                    seqs: dict[tuple[str, int], int] = {}
                    try:
                        for (t, p), recs in buckets.items():
                            for i in range(0, len(recs), 500):
                                chunk = recs[i:i + 500]
                                cl.produce(t, p, chunk, txn_id=txn_id,
                                           producer_id=pid,
                                           producer_epoch=epoch,
                                           base_sequence=seqs.get((t, p), 0))
                                seqs[(t, p)] = seqs.get((t, p), 0) + len(chunk)
                        if buckets:
                            cl.end_txn(txn_id, pid, epoch, commit=True)
                    except BaseException:
                        try:
                            cl.end_txn(txn_id, pid, epoch, commit=False)
                        except Exception:  # noqa: BLE001
                            pass  # fencing/re-init will abort it anyway
                        raise
                else:
                    for (t, p), recs in buckets.items():
                        for i in range(0, len(recs), 500):
                            cl.produce(t, p, recs[i:i + 500])
            finally:
                cl.close()
            return iter(())

        self._serialize(df).rdd.mapPartitionsWithIndex(
            produce_partition).count()

    def write(self, df: DataFrame) -> None:
        from seatunnel_spark.sources.stream import _kafka_jar_available

        if not _kafka_jar_available(df.sparkSession):
            self._wire_write(df)
            return
        writer = self._serialize(df).write.format("kafka")
        for k, v in self._options().items():
            writer = writer.option(k, v)
        writer.save()

    def write_stream(self, df: DataFrame, checkpoint: str | None = None):
        from seatunnel_spark.sources.stream import _kafka_jar_available

        if not _kafka_jar_available(df.sparkSession):
            # foreachBatch + the batch-id ledger (Sink base) gives the
            # same at-least-once-with-replay-no-op guarantee.
            return super().write_stream(df, checkpoint)
        writer = self._serialize(df).writeStream.format("kafka")
        for k, v in self._options().items():
            writer = writer.option(k, v)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer.start()


def _default_poster(url: str, headers: dict, body: bytes) -> int:
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        return resp.status


class WebhookSink(Sink):
    """Http/Slack/DingTalk/Feishu/EmailSink family: POST each (small)
    result batch to an endpoint. Collects at most `max_rows` rows —
    notification sinks are for summaries, not data movement."""

    NAME = "Http"

    def write(self, df: DataFrame) -> None:
        from seatunnel_spark.net import apply_host_aliases

        url = apply_host_aliases(self.require("url"))
        max_rows = int(self.opt("max_rows", 1000))
        if max_rows > 100_000:
            # Notification sinks collect to the driver; refusing absurd
            # caps keeps a miswired config from OOMing the job. Real data
            # movement belongs in the HTTP/Kafka/file sinks.
            raise ValueError(
                f"{self.plugin_name} sink: max_rows={max_rows} exceeds the "
                "100000 notification ceiling — use a data sink instead")
        poster = self.opt("_poster", _default_poster)
        rows = [r.asDict(recursive=True) for r in df.limit(max_rows).collect()]
        headers = {"Content-Type": "application/json", **(self.opt("headers") or {})}
        style = self.plugin_name.lower()
        if style == "slack":
            bodies = [{"text": self.opt("slack_template",
                                        json.dumps(rows, default=str))}]
        elif style == "dingtalk":
            bodies = [{"msgtype": "text",
                       "text": {"content": json.dumps(rows, default=str)}}]
        else:
            # Http/Feishu/EmailSink post one JSON row per request
            # (HttpSinkWriter.java:58-64, JsonSerializationSchema)
            bodies = rows
        for body in bodies:
            status = poster(url, headers, json.dumps(body, default=str).encode())
            if status >= 300:
                raise RuntimeError(f"{self.plugin_name} sink: HTTP {status}")
