"""File-backed Kafka topic emulator: the integration harness that lets
the full produce → topic → scan → decode path execute without the
``spark-sql-kafka`` connector jar (absent in this sandbox).

The emulator is a directory-per-topic log holding parquet segments in
EXACTLY the shape the real kafka scan yields (``key binary, value
binary, topic string, partition int, offset long, timestamp timestamp,
timestampType int``), so :func:`emulated_kafka_stream` is a drop-in
replacement for ``kafka_stream`` and everything downstream —
``decode_kafka_events``, the mapping topology, the sinks — runs the
identical code it runs against a real broker.

Broker semantics emulated faithfully:

- **Partitioning**: the default Kafka producer partitioner —
  ``toPositive(murmur2(keyBytes)) % numPartitions`` — so all records
  of one party land in one partition, which is the ordering contract
  the reference's flusher relies on (KafkaFlusher.java:53-101 keys
  every record by party id for exactly this affinity).
- **Offsets**: per-partition, dense, monotonic across produce batches
  and across PROCESSES. A batch is collected to the driver as one
  Arrow table (the batch's only Spark job), and absolute offsets are
  assigned there at commit time, under a per-topic commit lock
  (atomic ``mkdir``) — so the window between "derive bases" and
  "commit" that could interleave with another producer does not
  exist. Every committed batch dir carries a
  ``_watermark.json`` sidecar (written into the staging dir, so the
  SAME atomic rename commits data and watermark together) holding the
  post-batch next offsets; base derivation is an elementwise max over
  the sidecars (cached in-process, validated by the committed-dir
  count so another process's append is always noticed). A committed
  dir without a sidecar is corrupt input: the produce fails with the
  missing path. Produce cost stays O(batch) regardless of topic
  history.
- **Single active producer per topic — fenced at the commit point**:
  ``emulated_kafka_sink`` claims the topic (atomic
  ``_producer.claim`` replace); the claim is re-checked INSIDE the
  commit lock immediately before the rename, so a writer fenced
  mid-batch aborts instead of committing (newest-producer-wins, like
  Kafka's idempotent-producer epoch bump). Bare ``produce_batch``
  callers without a claim are still offset-safe thanks to the commit
  lock — interleaved producers serialize; only zombie-writer
  DUPLICATE-delivery semantics need the claim.
- **Atomic batch commit**: a batch's segment file is staged and then
  committed with ONE directory rename, so a concurrent streaming
  reader and the offset derivation never observe a partial batch.
- **Replay within a producer run**: ``foreachBatch`` may redeliver a
  batch after a failure; the committed directory is named by
  (producer epoch, batch id), so a redelivered batch id that already
  committed is dropped. ACROSS producer restarts the epoch changes
  and an uncommitted-then-redelivered batch appends again — Kafka's
  own at-least-once semantics for a non-idempotent producer; dedup
  belongs downstream (C6), exactly as with a real broker.

This is harness infrastructure — per-batch driver-side work is one
listdir + a tiny json read per committed dir (cache-validated) plus a
sort and one parquet write of the collected batch, never a scan of
the log history. The driver holds the whole batch while it commits.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

KAFKA_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)

# the segment file's schema: its timestamp is UTC-adjusted micros,
# which Spark reads back as TIMESTAMP (an unadjusted one reads as NTZ)
_SEGMENT_SCHEMA = to_arrow_schema(KAFKA_SCAN_SCHEMA)


def murmur2(data: bytes) -> int:
    """Kafka's murmur2 (the default partitioner's hash; public
    algorithm). 32-bit, seed ``0x9747b28c ^ len``."""
    length = len(data)
    m = 0x5BD1E995
    mask = 0xFFFFFFFF
    h = (0x9747B28C ^ length) & mask
    i = 0
    for i in range(0, length - 3, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * m) & mask
        k ^= k >> 24
        k = (k * m) & mask
        h = (h * m) & mask
        h ^= k
    extra = length & 3
    tail = length - extra
    if extra == 3:
        h ^= (data[tail + 2] & 0xFF) << 16
    if extra >= 2:
        h ^= (data[tail + 1] & 0xFF) << 8
    if extra >= 1:
        h ^= data[tail] & 0xFF
        h = (h * m) & mask
    h ^= h >> 13
    h = (h * m) & mask
    h ^= h >> 15
    return h


def partition_for_key(key: bytes, n_partitions: int) -> int:
    """``toPositive(murmur2(key)) % n`` — the default partitioner."""
    return (murmur2(key) & 0x7FFFFFFF) % n_partitions


def _data_dir(log_dir: str, topic: str) -> str:
    return os.path.join(log_dir, topic, "data")


WATERMARK_FILE = "_watermark.json"

# per-process next-offset watermark, keyed by data dir. Each entry is
# (n_committed_dirs, bases): the committed-dir COUNT validates the
# cache, so a batch appended by ANOTHER process (which this process's
# in-memory watermark cannot see) forces a sidecar re-read — the log
# is append-only, so any foreign commit changes the count. The
# validating listdir happens under the commit lock in produce_batch.
_WATERMARK_CACHE: dict[str, tuple[int, dict[int, int]]] = {}

#: breaking threshold for a lock whose holder crashed. Hold times are
#: bounded by the sort and one parquet write of ONE batch, so a lock
#: this old is a dead producer, not a slow one.
_COMMIT_LOCK_STALE_S = 600.0


def _read_owner(lock: str) -> str | None:
    try:
        with open(os.path.join(lock, "owner")) as fh:
            return fh.read()
    except OSError:
        return None


def _break_stale_lock(lock: str) -> None:
    """Break a lock measured stale, via verified atomic rename.

    The naive unlink-then-rmdir had a TOCTOU hole: between the age
    check and the removal, the (actually live, just slow) holder could
    release and ANOTHER producer re-acquire — the breaker then deleted
    the fresh owner's lock and re-admitted a concurrent committer.
    Rename-to-unique-tombstone closes it: exactly one breaker wins the
    atomic rename (everyone else gets ENOENT and loops), a lock
    re-acquired after the rename is a brand-new directory the breaker
    never touches, and the breaker deletes only its private tombstone
    — after verifying (owner token + mtime) that what it renamed is
    the same stale lock it measured. If the verification fails (the
    rename displaced a freshly re-acquired lock), the tombstone is
    renamed straight back. A live holder commits one batch in far less
    than the threshold, so it is never measured stale in the first
    place, and the restore path only runs on a holder that stalled past
    the threshold and woke at the worst instant."""
    try:
        pre_stat = os.stat(lock)
    except OSError:
        return  # released while we were deciding
    if time.time() - pre_stat.st_mtime <= _COMMIT_LOCK_STALE_S:
        return  # re-measured young (re-acquired meanwhile): not stale
    pre_owner = _read_owner(lock)
    tomb = f"{lock}.tomb.{uuid.uuid4().hex}"
    try:
        os.rename(lock, tomb)
    except OSError:
        return  # another breaker or the release won the race
    try:
        post_stat = os.stat(tomb)
        same = (
            post_stat.st_mtime_ns == pre_stat.st_mtime_ns
            and _read_owner(tomb) == pre_owner
        )
    except OSError:
        same = False
    if same:
        shutil.rmtree(tomb, ignore_errors=True)
        return
    # we displaced a lock that was released+re-acquired in the gap:
    # put it back untouched
    try:
        os.rename(tomb, lock)
    except OSError:
        # a third producer mkdir'd the freed path before the restore
        # landed; leave the tombstone (inert — nobody's lock path)
        # rather than clobber the new lock. The displaced holder's
        # release becomes a silent no-op and it briefly overlaps the
        # new holder — reaching here requires a holder that stalled
        # past the 600 s threshold, woke inside the
        # microsecond pre-stat→rename window, AND a waiter landing
        # inside the rename→restore window; accepted as the residual
        # of building on rename/mkdir atomicity alone.
        pass


@contextmanager
def _commit_lock(topic_dir: str, timeout: float = 900.0):
    """Per-topic commit mutex via atomic ``mkdir`` — held only for the
    driver-side commit tail (sidecar base derivation, offset
    assignment, the segment write, rename), never across the Spark
    job. The holder writes an ``owner`` token inside the lock dir and
    releases ONLY its own lock — so breaking a stale
    lock can never cascade (the original holder returning late does
    not free the usurper's lock). ``timeout`` > stale threshold, so
    waiters break a crashed holder's lock (verified atomic rename,
    _break_stale_lock) rather than timing out behind it."""
    lock = os.path.join(topic_dir, "_commit.lock")
    token = uuid.uuid4().hex
    deadline = time.monotonic() + timeout
    while True:
        try:
            os.mkdir(lock)
            with open(os.path.join(lock, "owner"), "w") as fh:
                fh.write(token)
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(lock).st_mtime
            except OSError:
                continue  # holder released between exists and stat
            if age > _COMMIT_LOCK_STALE_S:
                _break_stale_lock(lock)
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(f"kafka emulator commit lock busy: {lock}")
            time.sleep(0.02)
    try:
        yield
    finally:
        try:  # release only OUR lock — never a usurper's
            with open(os.path.join(lock, "owner")) as fh:
                if fh.read() == token:
                    os.unlink(os.path.join(lock, "owner"))
                    os.rmdir(lock)
        except OSError:
            pass


def _committed_dirs(data_dir: str) -> list[str]:
    return sorted(
        e
        for e in os.listdir(data_dir)
        if e.startswith("batch=")
        and os.path.isdir(os.path.join(data_dir, e))
    )


def _offset_bases(data_dir: str, n_partitions: int) -> dict[int, int]:
    """Next offset per partition — crash-consistent by construction:
    an uncommitted batch is invisible to readers, to the sidecars,
    and to this derivation. MUST be called under the topic's commit
    lock for producer use (produce_batch does).

    The in-process watermark is trusted only while the committed-dir
    COUNT matches the one it was recorded at — an append by another
    process changes the count (the log is append-only), forcing an
    elementwise-max re-read of the ``_watermark.json`` sidecars (one
    tiny json read per batch dir, no Spark job — order-free, so it
    needs no cross-epoch commit ordering). Every commit renames its
    sidecar in with its data, so a dir without one is corrupt: the
    ``open`` raises ``FileNotFoundError`` naming the path."""
    dirs = _committed_dirs(data_dir)
    cached = _WATERMARK_CACHE.get(data_dir)
    if (
        cached is not None
        and cached[0] == len(dirs)
        and len(cached[1]) >= n_partitions
    ):
        return dict(cached[1])
    bases = {p: 0 for p in range(n_partitions)}
    for entry in dirs:
        with open(os.path.join(data_dir, entry, WATERMARK_FILE)) as fh:
            wm = json.load(fh)
        for p_str, nxt in wm.items():
            p = int(p_str)
            bases[p] = max(bases.get(p, 0), int(nxt))
    _WATERMARK_CACHE[data_dir] = (len(dirs), dict(bases))
    return bases


def produce_batch(
    spark: SparkSession,
    framed: DataFrame,
    log_dir: str,
    topic: str,
    batch_id: int,
    n_partitions: int = 4,
    producer_epoch: str = "p0",
) -> None:
    """Append one batch of (key, value) frames to the topic log.

    One Spark job collects the frames as an Arrow table. The driver
    then assigns each record its partition (murmur2 once per distinct
    key; a null key goes to partition 0) and orders the batch by
    (partition, key, value) bytes, nulls first — a Spark batch has no
    producer send order, so the frame bytes make it deterministic.
    Under the topic's commit lock: base derivation, absolute offsets
    (base + rank within the partition), one segment file, the
    watermark sidecar, the fencing re-check, and one atomic directory
    rename — so no other producer's commit can interleave between
    "derive bases" and "commit", in this process or any other. A
    (producer_epoch, batch_id) that already committed is dropped —
    idempotent replay within a producer run."""
    data_dir = _data_dir(log_dir, topic)
    os.makedirs(data_dir, exist_ok=True)
    commit_dir = os.path.join(data_dir, f"batch={producer_epoch}-{batch_id:010d}")
    if os.path.exists(commit_dir):
        return  # this batch already committed: replay, drop it

    frames = framed.select("key", "value").toArrow()
    key = frames.column("key").cast(pa.binary())
    keys = pc.unique(key).drop_null()
    # one hash per distinct key; the trailing 0 is the null key's slot
    lut = np.array(
        [partition_for_key(k, n_partitions) for k in keys.to_pylist()] + [0],
        dtype=np.int32,
    )
    slot = pc.fill_null(pc.index_in(key, keys), -1).to_numpy()
    batch = pa.table(
        {
            "partition": lut[slot],
            "key": key,
            "value": frames.column("value").cast(pa.binary()),
        }
    )
    batch = batch.take(
        pc.sort_indices(
            batch,
            sort_keys=[(c, "ascending") for c in batch.column_names],
            null_placement="at_start",
        )
    )
    part = batch.column("partition").to_numpy()
    rank = np.arange(len(part)) - np.searchsorted(part, part)
    staging = os.path.join(log_dir, topic, f"_staging_{uuid.uuid4().hex}")
    try:
        with _commit_lock(os.path.join(log_dir, topic)):
            if os.path.exists(commit_dir):  # replay raced us to commit
                return
            bases = _offset_bases(data_dir, n_partitions)
            base = np.array(
                [bases[p] for p in range(n_partitions)], dtype=np.int64
            )
            new_bases = dict(bases)
            for p, n in zip(*np.unique(part, return_counts=True)):
                new_bases[int(p)] = bases[int(p)] + int(n)
            n_rows = len(part)
            segment = pa.table(
                [
                    batch.column("key"),
                    batch.column("value"),
                    pa.repeat(topic, n_rows),
                    batch.column("partition"),
                    base[part] + rank,
                    pa.nulls(n_rows, _SEGMENT_SCHEMA.field("timestamp").type),
                    np.full(n_rows, -1, dtype=np.int32),  # NO_TIMESTAMP_TYPE
                ],
                schema=_SEGMENT_SCHEMA,
            )
            os.mkdir(staging)
            pq.write_table(segment, os.path.join(staging, "part-00000.parquet"))
            with open(os.path.join(staging, WATERMARK_FILE), "w") as fh:
                json.dump({str(p): n for p, n in new_bases.items()}, fh)
            # fencing re-check at the commit point: a writer fenced
            # MID-BATCH aborts here instead of committing
            check_claim(log_dir, topic, producer_epoch)
            # the ONE commit point: everything before it is invisible
            os.rename(staging, commit_dir)
            _WATERMARK_CACHE[data_dir] = (
                len(_committed_dirs(data_dir)),
                dict(new_bases),
            )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        _WATERMARK_CACHE.pop(data_dir, None)
        raise


def claim_topic(log_dir: str, topic: str, epoch: str) -> None:
    """Epoch-fence claim: atomically record ``epoch`` as the topic's
    active producer (last claim wins, like Kafka's producer epoch
    bump). Underscore-prefixed, so invisible to readers."""
    topic_dir = os.path.join(log_dir, topic)
    os.makedirs(topic_dir, exist_ok=True)
    tmp = os.path.join(topic_dir, f"_claim_{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(epoch)
    os.replace(tmp, os.path.join(topic_dir, "_producer.claim"))


def check_claim(log_dir: str, topic: str, epoch: str) -> None:
    """Raise if a newer producer has claimed the topic — a fenced
    writer must fail loudly rather than mint overlapping offsets."""
    try:
        with open(os.path.join(log_dir, topic, "_producer.claim")) as fh:
            current = fh.read()
    except OSError:
        return  # unclaimed (bare produce_batch producers) — allowed
    if current != epoch:
        raise RuntimeError(
            f"kafka emulator: topic '{topic}' was claimed by producer "
            f"epoch {current!r}; this writer (epoch {epoch!r}) is "
            "fenced — only one active producer per topic"
        )


def emulated_kafka_sink(
    df: DataFrame,
    log_dir: str,
    topic: str,
    checkpoint: str,
    schema: dict,
    mode: str = "naked",
    confluent_id: int | None = None,
    n_partitions: int = 4,
):
    """K3 write side against the emulator: the byte-exact framing from
    ``kafka_frame`` (key = party id) produced into the topic log —
    mirrors ``kafka_sink_writer`` with the broker swapped out. One
    producer epoch per writer instance (see module docstring for the
    replay semantics); the writer claims the topic at construction
    and is fenced if a newer writer claims it later."""
    from divolte_collector_spark.streaming.sinks import kafka_frame

    epoch = uuid.uuid4().hex[:8]
    claim_topic(log_dir, topic, epoch)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        check_claim(log_dir, topic, epoch)
        framed = kafka_frame(
            batch_df, schema, mode=mode, confluent_id=confluent_id
        )
        produce_batch(
            batch_df.sparkSession, framed, log_dir, topic, batch_id,
            n_partitions=n_partitions, producer_epoch=epoch,
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def emulated_kafka_stream(
    spark: SparkSession,
    log_dir: str,
    topic: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drop-in for ``kafka_stream``: a streaming scan over the topic
    log yielding the exact kafka source schema."""
    data_dir = _data_dir(log_dir, topic)
    os.makedirs(data_dir, exist_ok=True)
    reader = spark.readStream.schema(KAFKA_SCAN_SCHEMA).option(
        "recursiveFileLookup", "true"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(data_dir)


def read_topic(spark: SparkSession, log_dir: str, topic: str) -> DataFrame:
    """Batch view of the topic log (assertions, replays)."""
    data_dir = _data_dir(log_dir, topic)
    return (
        spark.read.schema(KAFKA_SCAN_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(data_dir)
    )
