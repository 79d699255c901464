"""Streaming sources: Kafka (all message formats) and Socket.

Reference: connector-kafka (config/MessageFormat.java:20-31 — JSON,
TEXT, CANAL_JSON, DEBEZIUM_JSON, OGG_JSON, MAXWELL_JSON, AVRO,
PROTOBUF, COMPATIBLE_*) and connector-socket.

Spark-native: `readStream.format("kafka")` (spark-sql-kafka) + the
format decoders in seatunnel_spark.formats (from_json-based, emitting
__row_kind for the CDC envelopes). When the connector jar is NOT on
the classpath (this sandbox), the source/sink fall back to the
stdlib wire-protocol client (seatunnel_spark.kafka_wire — real
Produce/Fetch against any broker): batch reads fan partitions out via
mapInPandas; streaming reads poll through a Python DataSource stream
reader whose checkpointed offset is the per-partition position map —
the same offset-tracking contract spark-sql-kafka implements.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.sources.base import Source
from seatunnel_spark.formats import decode_payload


def _kafka_jar_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider")
        return True
    except Exception:  # noqa: BLE001
        return False


class KafkaSource(Source):
    NAME = "Kafka"

    def _starting_offsets_json(self) -> str:
        """Map the reference's start_mode vocabulary
        (StartMode.java: EARLIEST/LATEST/GROUP_OFFSETS/TIMESTAMP/
        SPECIFIC_OFFSETS + start_mode.offsets) to Spark's
        startingOffsets."""
        mode = str(self.opt("start_mode", "earliest")).lower()
        if mode == "specific_offsets":
            offs = self.opt("start_mode.offsets") or {}
            by_topic: dict[str, dict[str, int]] = {}
            for key, off in offs.items():
                topic, _, part = str(key).rpartition("-")
                by_topic.setdefault(topic, {})[part] = int(off)
            return json.dumps(by_topic)
        if mode == "latest":
            return "latest"
        # group_offsets/timestamp: no committed-offset store on the
        # Spark reader — earliest is the reference's reset fallback
        return "earliest"

    def _base(self, reader):
        sub = ("subscribePattern" if self.opt("pattern") in (True, "true")
               else "subscribe")
        reader = (
            reader.format("kafka")
            .option("kafka.bootstrap.servers", self.require("bootstrap.servers"))
            .option(sub, self.require("topic"))
            .option("startingOffsets", self._starting_offsets_json())
        )
        for k, v in (self.opt("kafka.config") or {}).items():
            reader = reader.option(f"kafka.{k}", v)
        return reader

    def _topics(self, cl) -> list[str]:
        """Resolve the configured topic(s): literal name, comma list,
        or regex when pattern=true (ConsumerMetadata.java's
        topic-pattern mode)."""
        topic = str(self.require("topic"))
        if self.opt("pattern") in (True, "true"):
            import re as _re

            rx = _re.compile(topic)
            return [t for t in cl.metadata(None) if rx.match(t)]
        return [t.strip() for t in topic.split(",") if t.strip()]

    def _decode(self, raw: DataFrame) -> DataFrame:
        fmt = str(self.opt("format", "json")).upper()
        schema_opt = self.opt("schema")
        if "offset" in raw.columns:
            # feed position for the CDC decoders: keyed sinks apply
            # last-event-per-key in consume order (partition-local,
            # which is all per-key ordering needs)
            from pyspark.sql import functions as F

            raw = raw.withColumn("__offset", F.col("offset").cast("long"))
        return decode_payload(
            raw, fmt, schema_opt,
            delimiter=self.opt("field_delimiter", ","),
            avro_schema=self.opt("avro.schema"),
            protobuf_schema_file=self.opt("protobuf_schema_file"),
            protobuf_message_name=self.opt("protobuf_message_name"),
            protobuf_schema=self.opt("protobuf_schema"),
            error_handle_way=self.opt("format_error_handle_way", "fail"),
        )

    # -- wire-protocol fallback -------------------------------------------
    def _wire_read(self, spark: SparkSession) -> DataFrame:
        """Bounded read over the stdlib client: one mapInPandas task per
        partition streams fetch batches — no driver materialization."""
        from seatunnel_spark.kafka_wire import KafkaWireClient, resolve_bootstrap

        bootstrap = resolve_bootstrap(self.require("bootstrap.servers"))
        mode = str(self.opt("start_mode", "earliest")).lower()
        spec_offsets = self.opt("start_mode.offsets") or {}
        ts_arg = int(self.opt("start_mode.timestamp") or 0)
        group = str(self.opt("consumer.group")
                    or "SeaTunnel-Consumer-Group")
        commit = str(self.opt("commit_on_checkpoint", "true")) \
            .lower() != "false"
        from seatunnel_spark.kafka_wire import sasl_gssapi_config

        sasl = sasl_gssapi_config(self.opt("kafka.config"),
                                  str(self.require("bootstrap.servers")))
        cl = KafkaWireClient(bootstrap, sasl=sasl)
        splits: list[tuple[str, int, int]] = []
        try:
            for topic in self._topics(cl):
                parts = cl.metadata([topic]).get(topic, [0])
                committed = cl.offset_fetch(group, topic, parts) \
                    if mode == "group_offsets" else {}
                for p in parts:
                    if mode == "specific_offsets":
                        start = int(spec_offsets.get(f"{topic}-{p}", 0))
                    elif mode == "latest":
                        start = cl.list_offset(topic, p, -1)
                    elif mode == "timestamp":
                        start = cl.list_offset(topic, p, ts_arg)
                    elif mode == "group_offsets":
                        # resume from the group's committed position;
                        # nothing committed -> LATEST (the consumer's
                        # auto.offset.reset default — the reference's
                        # enumerator leaves the split at its default
                        # when listConsumerGroupOffsets has no entry)
                        start = committed.get(p, -1)
                        if start < 0:
                            start = cl.list_offset(topic, p, -1)
                    else:  # earliest
                        start = cl.list_offset(topic, p, -2)
                    splits.append((topic, p, start))
            if mode == "group_offsets" and commit:
                # commit_on_checkpoint: the group's offsets advance to
                # the log end AFTER the job's sinks complete (the
                # engine's on_job_complete hook — KafkaSourceReader
                # commits on checkpoint completion, never before the
                # data is processed)
                by_topic: dict[str, dict[int, int]] = {}
                for topic, p, _s in splits:
                    by_topic.setdefault(topic, {})[p] = \
                        cl.list_offset(topic, p, -1)

                def _commit():
                    c2 = KafkaWireClient(bootstrap, sasl=sasl)
                    try:
                        for topic, offs in by_topic.items():
                            c2.offset_commit(group, topic, offs)
                    finally:
                        c2.close()

                self.on_job_complete = _commit
        finally:
            cl.close()
        pdf = spark.createDataFrame(
            splits, "topic string, p int, start long") \
            .repartition(max(1, len(splits)))

        def fetch_parts(batches):
            import pandas as pd

            cl = KafkaWireClient(bootstrap, sasl=sasl)
            try:
                for frame in batches:
                    for topic, p, start in zip(frame["topic"], frame["p"],
                                               frame["start"]):
                        # value stays BINARY — avro datums are not
                        # utf-8; text decoders cast binary->string
                        rows = [
                            (bytes(v) if v is not None else None,
                             k.decode() if k is not None else None,
                             int(p), int(off))
                            for off, k, v in cl.fetch(str(topic), int(p),
                                                      int(start))
                        ]
                        yield pd.DataFrame(
                            rows, columns=["value", "key", "partition",
                                           "offset"])
            finally:
                cl.close()

        return map_in_pandas(
            pdf, fetch_parts,
            "value binary, key string, partition int, offset long")

    def _wire_read_stream(self, spark: SparkSession) -> DataFrame:
        from seatunnel_spark.sources.kafka_ds import register_kafka_datasource

        from seatunnel_spark.kafka_wire import resolve_bootstrap

        register_kafka_datasource(spark)
        from seatunnel_spark.kafka_wire import sasl_gssapi_config

        cfg = {"bootstrap": resolve_bootstrap(self.require("bootstrap.servers")),
               "topic": self.require("topic"),
               "per_trigger": int(self.opt("maxOffsetsPerTrigger")
                                  or self.opt("read_limit.rows_per_second")
                                  or 10000),
               "sasl": sasl_gssapi_config(
                   self.opt("kafka.config"),
                   str(self.require("bootstrap.servers")))}
        return (spark.readStream.format("seatunnel_kafka")
                .option("config", json.dumps(cfg)).load())

    # ----------------------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        table_list = self.opt("table_list")
        if table_list:
            # per-topic sub-configs (topic/pattern/format/schema each;
            # ConsumerMetadata table_list) — union of the decoded frames
            base = {k: v for k, v in self.options.items()
                    if k != "table_list"}
            frames = [KafkaSource({**base, **sub}).read(spark)
                      for sub in table_list]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f, allowMissingColumns=True)
            return out
        if _kafka_jar_available(spark):
            return self._decode(self._base(spark.read).load())
        return self._decode(self._wire_read(spark))

    def read_stream(self, spark: SparkSession) -> DataFrame:
        if not _kafka_jar_available(spark):
            return self._decode(self._wire_read_stream(spark))
        reader = self._base(spark.readStream)
        if self.opt("maxOffsetsPerTrigger") or self.opt("read_limit.rows_per_second"):
            # Reference speed-limit (docs/en/concept/speed-limit.md) maps to
            # Kafka's per-trigger cap.
            cap = self.opt("maxOffsetsPerTrigger") or self.opt("read_limit.rows_per_second")
            reader = reader.option("maxOffsetsPerTrigger", int(cap))
        return self._decode(reader.load())


class SocketSource(Source):
    NAME = "Socket"

    def read_stream(self, spark: SparkSession) -> DataFrame:
        return (
            spark.readStream.format("socket")
            .option("host", self.require("host"))
            .option("port", int(self.require("port")))
            .load()
        )

    def read(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError("Socket source is streaming-only (UNBOUNDED)")
