"""Kafka ingest source (reference north-star topology: collector →
Kafka → downstream consumers; ``reference.conf`` ``divolte.kafka_flusher``
and KafkaFlusher.java:53-101 are the producer side — this module is the
matching Structured-Streaming CONSUMER so a divolte deployment's Kafka
topic can feed the Spark mapping/analytics pipeline directly).

Split so every piece except the connector class itself is testable in
this container (no kafka jar present):

- :func:`kafka_connector_available` probes the data-source registry;
- :func:`kafka_stream` builds the ``readStream.format("kafka")`` scan;
- :func:`decode_kafka_events` turns the standard kafka source columns
  (``key``/``value`` binary, topic/partition/offset/timestamp) into
  typed event rows by decoding the reference's wire value — naked
  binary Avro or Confluent framing (0x00 magic + int32-BE schema id,
  KafkaFlusher serializers) — in one Arrow-batched ``mapInPandas``
  stage. This half runs against any DataFrame with the kafka column
  shape, so the decode path is exercised in tests without a broker.

Scale: the kafka scan parallelizes by topic-partition (one Spark task
per Kafka partition per micro-batch); decode is a narrow map — no
shuffle until the mapping/aggregation that follows. Key-partitioned
topics (key = party id, the reference's producer contract) mean
per-party ordering survives into ``applyInPandasWithState``
sessionization without an extra repartition.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from divolte_collector_spark.functions.avro_codec import decode_record

#: Avro primitive -> Spark type for the decoded event projection.
_AVRO_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "bytes": T.BinaryType(),
}


def _field_spark_type(avro_type: Any) -> T.DataType:
    """Map an Avro field type (incl. ``["null", X]`` unions) to Spark."""
    if isinstance(avro_type, list):  # union: first non-null branch
        branches = [b for b in avro_type if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"unsupported union: {avro_type}")
        return _field_spark_type(branches[0])
    if isinstance(avro_type, dict):
        t = avro_type.get("type")
        if t == "array":
            return T.ArrayType(_field_spark_type(avro_type["items"]))
        if t == "map":
            return T.MapType(T.StringType(), _field_spark_type(avro_type["values"]))
        if t in _AVRO_TO_SPARK:  # annotated primitive {"type": "long", ...}
            return _AVRO_TO_SPARK[t]
        raise ValueError(f"unsupported avro type: {avro_type}")
    if avro_type in _AVRO_TO_SPARK:
        return _AVRO_TO_SPARK[avro_type]
    raise ValueError(f"unsupported avro type: {avro_type}")


def event_spark_schema(schema: dict) -> T.StructType:
    """Spark schema of the decoded event columns for an Avro record
    schema, plus the Kafka provenance columns the reference's consumers
    see (topic/partition/offset and the broker timestamp)."""
    fields = [
        T.StructField(f["name"], _field_spark_type(f["type"]), True)
        for f in schema["fields"]
    ]
    fields += [
        T.StructField("_topic", T.StringType(), True),
        T.StructField("_partition", T.IntegerType(), True),
        T.StructField("_offset", T.LongType(), True),
        T.StructField("_timestamp", T.TimestampType(), True),
    ]
    return T.StructType(fields)


def kafka_connector_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the classpath.

    Probes by building (never starting) a kafka scan; a missing
    connector fails at lookup time with DATA_SOURCE_NOT_FOUND."""
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:9092"
        ).option("subscribe", "_probe").load()
        return True
    except Exception:
        return False


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """The raw kafka scan: one Spark input partition per Kafka
    topic-partition per micro-batch."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def decode_kafka_events(
    kafka_df: DataFrame,
    schema: dict,
    mode: str = "naked",
    verify_key: bool = False,
    expected_confluent_id: int | None = None,
) -> DataFrame:
    """Decode kafka (key, value) rows into typed event columns.

    ``mode="naked"``: value is a bare binary-Avro record;
    ``mode="confluent"``: value carries the Confluent wire framing
    (0x00 magic + int32-BE schema id) which is stripped — bad magic
    rows decode as all-null events rather than failing the batch (the
    reference's consumer-side tolerance: corrupt records are flagged,
    never fatal). Confluent mode also surfaces the parsed registry id
    as a ``_schema_id`` column (null on bad magic / short frames):
    binary Avro is not self-describing, so a topic carrying mixed
    registry schemas would otherwise decode "successfully" into wrong
    field values. Pass ``expected_confluent_id`` to null-out records
    framed under any other id — they land like corrupt rows (all-null
    event fields) but keep their ``_schema_id``, making the mismatch
    detectable instead of silent.

    One Arrow crossing for the whole decode; columns come back typed
    per the Avro schema so downstream mapping/aggregation stays
    JVM-side.

    ``verify_key=True`` adds a ``_key_matches`` column checking the
    producer contract (message key == UTF-8 party id,
    DivolteIdentifierSerializer.java; a null party goes with a null
    key) — a consumer-side audit that a repartitioned/republished topic
    hasn't broken per-party ordering guarantees. It is null for a
    record that could not be decoded.
    """
    if mode not in ("naked", "confluent"):
        raise ValueError(f"unknown kafka source mode: {mode}")
    if expected_confluent_id is not None and mode != "confluent":
        # naked frames carry no schema id: enforcing one is a config
        # error, and silently skipping the check would defeat the
        # mixed-registry protection the parameter exists for
        raise ValueError(
            "expected_confluent_id requires mode='confluent'"
        )
    out_schema = event_spark_schema(schema)
    if mode == "confluent":
        out_schema = T.StructType(
            list(out_schema.fields)
            + [T.StructField("_schema_id", T.LongType(), True)]
        )
    if verify_key:
        out_schema = T.StructType(
            list(out_schema.fields)
            + [T.StructField("_key_matches", T.BooleanType(), True)]
        )
    names = [f["name"] for f in schema["fields"]]

    def decode(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            rows: list[dict] = []
            for key, value, topic, part, off, ts in zip(
                pdf["key"], pdf["value"], pdf["topic"], pdf["partition"],
                pdf["offset"], pdf["timestamp"],
            ):
                buf = bytes(value) if value is not None else b""
                sid = None
                wrong_id = False
                if mode == "confluent":
                    if len(buf) >= 5 and buf[0] == 0:
                        sid = int.from_bytes(buf[1:5], "big")
                        buf = buf[5:]
                    else:
                        buf = b""
                    wrong_id = (
                        expected_confluent_id is not None
                        and sid != expected_confluent_id
                    )
                rec = None
                if not wrong_id:
                    try:
                        rec = decode_record(schema, buf)
                    except Exception:
                        pass
                decoded = rec is not None
                if not decoded:
                    rec = {n: None for n in names}
                if mode == "confluent":
                    rec["_schema_id"] = sid
                rec["_topic"] = topic
                rec["_partition"] = part
                rec["_offset"] = off
                rec["_timestamp"] = ts
                if verify_key:
                    # a null party is keyed null (kafka_frame); an
                    # undecodable record has no party to check
                    party = rec.get("party_id")
                    if not decoded:
                        rec["_key_matches"] = None
                    elif party is None:
                        rec["_key_matches"] = key is None
                    else:
                        rec["_key_matches"] = (
                            key is not None
                            and bytes(key).decode("utf-8", "replace") == party
                        )
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    if "timestamp" not in kafka_df.columns:
        # synthetic/batch frames (tests, replays) may lack the broker
        # timestamp the real kafka scan always carries
        from pyspark.sql import functions as F

        kafka_df = kafka_df.withColumn(
            "timestamp", F.lit(None).cast("timestamp")
        )
    return kafka_df.select(
        "key", "value", "topic", "partition", "offset", "timestamp"
    ).mapInPandas(decode, out_schema)


def kafka_events(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: dict,
    mode: str = "naked",
    starting_offsets: str = "latest",
) -> DataFrame:
    """The full ingest path: kafka scan → wire decode → typed events.
    Requires the connector jar (gate with
    :func:`kafka_connector_available`)."""
    return decode_kafka_events(
        kafka_stream(spark, bootstrap_servers, topic, starting_offsets),
        schema,
        mode=mode,
    )


def kafka_sink_writer(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    schema: dict,
    mode: str = "naked",
    confluent_id: int | None = None,
):
    """K3 write side on a real cluster: the byte-exact framing from
    :func:`~divolte_collector_spark.streaming.sinks.kafka_frame` sent
    through ``writeStream.format("kafka")`` (key = party id keeps the
    reference's partitioning contract)."""
    from divolte_collector_spark.streaming.sinks import kafka_frame

    framed = kafka_frame(df, schema, mode=mode, confluent_id=confluent_id)
    return (
        framed.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
