"""Sinks (reference §2.14 K1-K4), Spark-first.

Every sink encodes each record once (AvroRecordBuffer.java:93-112):
``mapInArrow`` hands each Arrow batch to one ``compile_encoder`` call,
and the sinks only frame the binary column it returns.

K1/K2 (HDFS/GCS Avro files): the reference appends pre-encoded records
to ``<name>.partial`` working files, syncs every 1000 records / 30 s,
rolls hourly, then atomically renames into the publish dir, discarding
empties (FileFlusher.java:183-208, HdfsFileManager.java:79-127,
FileStrategyConfiguration.java:31-43). ``write_avro_files`` /
``avro_file_sink`` write true Avro object container files under that
lifecycle (one block per roll bucket per Arrow batch); the GCS twin is
``streaming/gcs.py``. ``file_sink`` is a Parquet alternative on Spark's
own streaming file sink for consumers that want columnar files.

K3 (Kafka): ``ProducerRecord(topic, key=partyId, value=avro)``, naked
or Confluent-framed (KafkaFlusher.java:53-101, serializers). The
projection below produces exactly those (key, value) byte columns; on
a cluster with the kafka connector the stream writes with
``.writeStream.format("kafka")``, and the projection is testable
without it.

K4 (Pub/Sub): message bytes + attributes incl. the base64url SHA-256
schema fingerprint (GoogleCloudPubSubFlusher.java:45-91);
``pubsub_messages`` builds those columns for a ``foreachBatch``
publisher.
"""

from __future__ import annotations

import base64
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from divolte_collector_spark.functions.avro_codec import (
    compile_encoder,
    confluent_frame,
    container_header,
    default_sync_marker,
    encoded_block,
    schema_fingerprint_sha256,
)

#: the (file, record count) rows each file-writing task returns
MANIFEST = pa.schema([("file", pa.string()), ("n", pa.int64())])


#: the roll bucket of rows whose roll column is null (no event time):
#: they land in ``unknown-divolte-tracking-<host>-<tag>-<pid>.avro``
UNKNOWN_ROLL = "unknown"


def roll_runs(
    batch: pa.RecordBatch, encoded: pa.BinaryArray
) -> Iterator[tuple[str, pa.BinaryArray]]:
    """(roll bucket, encoded records) for each ``_roll`` value in the
    batch, rows in batch order within a bucket (stable sort). Null
    ``_roll`` rows form the :data:`UNKNOWN_ROLL` bucket."""
    order = pc.sort_indices(batch.column("_roll"))
    runs = pc.run_end_encode(batch.column("_roll").take(order))
    encoded = encoded.take(order)
    start = 0
    for end, roll in zip(runs.run_ends.to_pylist(), runs.values.to_pylist()):
        yield UNKNOWN_ROLL if roll is None else roll, encoded.slice(start, end - start)
        start = end


def file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    roll_column: str = "client_time",
    trigger_seconds: int | None = 30,
    available_now: bool = False,
) -> DataStreamWriter:
    """K1-style rolling file sink: time-bucketed directories stand in
    for the hourly roll; Spark's manifest commit gives the same
    partial→publish atomicity."""
    out = df.withColumn(
        "_roll", F.date_format(F.col(roll_column), "yyyyMMddHH")
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("_roll")
        .outputMode("append")
    )
    if available_now:
        return writer.trigger(availableNow=True)
    if trigger_seconds is None:  # Spark's default micro-batch trigger
        return writer
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")


def roll_file_name(
    roll: str, host_string: str, batch_tag: str, pid: int
) -> str:
    """The reference's container file naming —
    ``<yyyyLLddHHmmss>-divolte-tracking-<host>-<instance>.avro``
    (FileFlusher.java:54,262) — with the roll bucket as the date part
    and (batch tag, partition id) as the instance. Shared by the K1
    local/HDFS writer and the K2 GCS writer so the contract cannot
    silently diverge."""
    return f"{roll}-divolte-tracking-{host_string}-{batch_tag}-{pid}.avro"


def write_avro_files(
    batch_df: DataFrame,
    schema: dict,
    path: str,
    batch_tag: str,
    roll_column: str = "client_time",
    host_string: str = "spark",
) -> list[tuple[str, int]]:
    """Write one Avro container file per (roll bucket, partition) —
    the distributed core of the K1 sink, callable from ``foreachBatch``
    or on a batch DataFrame directly.

    Lifecycle parity (FileFlusher.java:183-208, HdfsFileManager.java:47,
    79-127): records append to a ``.partial`` inflight file which is
    atomically renamed into the publish directory on roll; empty files
    are discarded (never published). Naming is the reference's
    ``<yyyyLLddHHmmss>-divolte-tracking-<host>-<instance>.avro``
    (FileFlusher.java:54,262) with the roll bucket as the date part and
    the partition id as the instance number; rows with a null roll
    column go to the :data:`UNKNOWN_ROLL` file and are counted.

    Scale: the encode+write runs inside ``mapInArrow`` on the
    executors — each partition streams its own container file to
    (shared) storage, appending one OCF BLOCK per roll bucket per Arrow
    batch as it arrives (the container format is block-appendable), so
    worker memory is bounded by the Arrow batch size, never by the roll
    bucket; the driver only collects the (filename, count) manifest.
    At 100 TB nothing funnels through the driver and nothing buffers
    a whole bucket. A block is a slice of the batch's encoded records,
    so records never become Python objects.
    """
    import os

    bucketed = batch_df.withColumn(
        "_roll", F.date_format(F.col(roll_column), "yyyyMMddHHmmss")
    )
    sync = default_sync_marker(schema)

    def write_partition(iterator: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        os.makedirs(path, exist_ok=True)
        encode = compile_encoder(schema)
        # roll -> (open .partial handle, published name, record count);
        # the header goes out when the first record for a roll arrives,
        # then every Arrow batch appends one block per roll
        open_files: dict[str, list] = {}
        published: set[str] = set()
        try:
            for batch in iterator:
                for roll, records in roll_runs(batch, encode(batch)):
                    if roll not in open_files:
                        name = roll_file_name(
                            roll, host_string, batch_tag, pid
                        )
                        fh = open(os.path.join(path, name + ".partial"), "wb")
                        fh.write(container_header(schema, sync))
                        open_files[roll] = [fh, name, 0]
                    entry = open_files[roll]
                    entry[0].write(encoded_block(records, sync))
                    entry[2] += len(records)
            names: list[str] = []
            counts: list[int] = []
            for fh, name, n in open_files.values():
                fh.flush()
                os.fsync(fh.fileno())
                fh.close()
                # empties never open a file, so everything here publishes
                os.replace(
                    os.path.join(path, name + ".partial"), os.path.join(path, name)
                )  # atomic publish
                published.add(name)
                names.append(name)
                counts.append(n)
        finally:
            # an encode/write error mid-iteration must not leak handles
            # or leave orphaned .partial inflight files behind — the
            # reference's flusher discards the inflight file on failure
            # (FileFlusher.java:183-208); Spark then retries the task
            for fh, name, _ in open_files.values():
                if name in published:
                    continue
                try:
                    fh.close()
                except OSError:
                    pass
                try:
                    os.unlink(os.path.join(path, name + ".partial"))
                except OSError:
                    pass
        yield pa.RecordBatch.from_pydict({"file": names, "n": counts}, schema=MANIFEST)

    # repartition on the roll bucket so each bucket lands in few
    # partitions (few output files per roll), matching the one-file-
    # per-roll-per-writer layout of the reference's flusher threads
    manifest = (
        bucketed.repartition("_roll")
        .mapInArrow(write_partition, "file string, n long")
        .collect()
    )
    return [(r["file"], r["n"]) for r in manifest]


def avro_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    schema: dict,
    roll_column: str = "client_time",
    trigger_seconds: int | None = 30,
    available_now: bool = False,
) -> DataStreamWriter:
    """K1: rolling TRUE-Avro container file sink for a streaming
    DataFrame, via ``foreachBatch`` + :func:`write_avro_files`.

    Each micro-batch publishes per-roll-bucket ``.avro`` container
    files through the ``.partial`` → rename protocol; a downstream
    Avro consumer of the reference's files can read these unchanged.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_avro_files(
            batch_df, schema, path, batch_tag=str(batch_id), roll_column=roll_column
        )

    writer = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        return writer.trigger(availableNow=True)
    if trigger_seconds is None:  # Spark's default micro-batch trigger
        return writer
    return writer.trigger(processingTime=f"{trigger_seconds} seconds")


def kafka_frame(
    df: DataFrame,
    schema: dict,
    mode: str = "naked",
    confluent_id: int | None = None,
    key_col: str = "party_id",
) -> DataFrame:
    """Project a mapped-event DataFrame into Kafka (key, value) bytes.

    key = UTF-8 party id (DivolteIdentifierSerializer.java), null for a
    null party; value = binary Avro record, optionally Confluent-framed.
    Works on batch and streaming DataFrames; the record encode happens
    once per event and fans out — the AvroRecordBuffer serialize-once
    discipline.
    """
    if mode not in ("naked", "confluent"):
        raise ValueError(f"unknown kafka sink mode: {mode}")  # KafkaSinkMode.java:32-34
    if mode == "confluent" and confluent_id is None:
        raise ValueError("confluent mode requires a schema id")

    def encode(iterator: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        encoder = compile_encoder(schema)
        for batch in iterator:
            value = encoder(batch)
            if mode == "confluent":
                frame = confluent_frame(confluent_id, b"")
                value = pc.binary_join_element_wise(frame, value, b"")
            key = batch.column(key_col).cast(pa.string()).cast(pa.binary())
            yield pa.RecordBatch.from_arrays([key, value], ["key", "value"])

    return df.mapInArrow(encode, "key binary, value binary")


def pubsub_messages(
    df: DataFrame, schema: dict, confluent_id: int | None = None
) -> DataFrame:
    """K4: message data + attribute columns
    (GoogleCloudPubSubFlusher.java:48-91): partyIdentifier,
    eventIdentifier, ISO-instant timestamp, base64url schema
    fingerprint, and — when the schema is registry-backed — the
    optional ``schemaConfluentId`` attribute as ``0x`` + lowercase hex
    (:62: ``"0x" + Integer.toHexString(i)``). A null party or event id
    stays null (the attribute is then left out)."""
    fingerprint = base64.urlsafe_b64encode(
        schema_fingerprint_sha256(schema)
    ).decode("ascii")
    confluent_hex = None if confluent_id is None else f"0x{confluent_id:x}"
    out_schema = (
        "data binary, partyIdentifier string, eventIdentifier string, "
        "timestamp string, schemaFingerprint string, schemaConfluentId string"
    )

    def encode(iterator: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        encoder = compile_encoder(schema)
        for batch in iterator:
            n = batch.num_rows
            instant = batch.column("client_time").cast(pa.timestamp("us", "UTC"))
            yield pa.RecordBatch.from_pydict(
                {
                    "data": encoder(batch),
                    "partyIdentifier": batch.column("party_id").cast(pa.string()),
                    "eventIdentifier": batch.column("event_id").cast(pa.string()),
                    # %S of a microsecond timestamp carries the fraction
                    "timestamp": pc.strftime(instant, format="%Y-%m-%dT%H:%M:%SZ"),
                    "schemaFingerprint": pa.repeat(pa.scalar(fingerprint), n),
                    "schemaConfluentId": pa.repeat(pa.scalar(confluent_hex, pa.string()), n),
                }
            )

    return df.mapInArrow(encode, out_schema)
