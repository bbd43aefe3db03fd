"""End-to-end Kafka integration against the file-backed topic emulator
(sources/kafka_emulator.py): the produce → topic → scan → decode path
that the real connector jar would exercise, runnable in this sandbox.

The emulator produces the EXACT kafka scan schema, so everything under
test — kafka_frame's byte framing, decode_kafka_events, the mapping
topology — is the production code path; only the broker transport is
swapped. Partitioning parity is pinned against Kafka's default
partitioner (murmur2 reference vectors from Kafka's own test suite).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from divolte_collector_spark.sources.kafka_emulator import (
    emulated_kafka_sink,
    emulated_kafka_stream,
    murmur2,
    partition_for_key,
    produce_batch,
    read_topic,
)
from divolte_collector_spark.sources.kafka_source import decode_kafka_events

_SCHEMA = {
    "type": "record",
    "name": "MappedEvent",
    "fields": [
        {"name": "party_id", "type": "string"},
        {"name": "event_id", "type": "string"},
        {"name": "event_type", "type": ["null", "string"], "default": None},
        {"name": "client_ms", "type": "long"},
    ],
}


def test_murmur2_known_vectors():
    """Kafka's murmur2 on the reference vectors of Kafka's
    ``UtilsTest.testMurmur2``, which compares signed 32-bit ints."""
    vectors = {
        "21": -973932308,
        "foobar": -790332482,
        "a-little-bit-long-string": -985981536,
        "a-little-bit-longer-string": -1486304829,
        "lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8": -58897971,
        "abc": 479470107,
    }
    for text, expected in vectors.items():
        h = murmur2(text.encode())
        signed = h - (1 << 32) if h >= 1 << 31 else h
        assert signed == expected, text
    # the empty-input value falls straight through the finalizer:
    h = 0x9747B28C
    m = 0x5BD1E995
    mask = 0xFFFFFFFF
    h ^= h >> 13
    h = (h * m) & mask
    h ^= h >> 15
    assert murmur2(b"") == h
    # determinism + spread
    vals = {murmur2(f"party-{i}".encode()) for i in range(100)}
    assert len(vals) == 100
    # partitioner always lands in range and is stable
    for i in range(50):
        p = partition_for_key(f"0:a:{i}".encode(), 4)
        assert 0 <= p < 4
        assert p == partition_for_key(f"0:a:{i}".encode(), 4)


def _mapped_events(spark, n=40):
    return spark.range(n).select(
        F.concat(F.lit("0:p"), (F.col("id") % 7).cast("string")).alias(
            "party_id"
        ),
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("event_id"),
        F.when(F.col("id") % 3 == 0, F.lit("view"))
        .otherwise(F.lit("click"))
        .alias("event_type"),
        (F.col("id") * 100).alias("client_ms"),
    )


def test_produce_scan_decode_roundtrip(spark, tmp_path):
    """Batch produce → streaming scan → decode: every event survives
    byte-exactly and the scan schema matches the real connector's."""
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    ev = _mapped_events(spark)
    framed = kafka_frame(ev, _SCHEMA)
    produce_batch(spark, framed, log, "divolte", batch_id=0, n_partitions=4)

    topic = read_topic(spark, log, "divolte")
    assert [f.name for f in topic.schema.fields] == [
        "key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType",
    ]
    decoded = decode_kafka_events(topic, _SCHEMA)
    rows = {r.event_id: r for r in decoded.collect()}
    src = {r.event_id: r for r in ev.collect()}
    assert rows.keys() == src.keys()
    for eid, r in rows.items():
        assert r.party_id == src[eid].party_id
        assert r.event_type == src[eid].event_type
        assert r.client_ms == src[eid].client_ms


def test_produce_batch_runs_one_spark_job(spark, tmp_path):
    """The collect that feeds the driver-side commit (and runs
    kafka_frame's encode) is the batch's only Spark job."""
    from divolte_collector_spark.streaming.sinks import kafka_frame

    sc = spark.sparkContext
    framed = kafka_frame(_mapped_events(spark), _SCHEMA)
    sc.setJobGroup("produce_batch_jobs", "produce_batch")
    try:
        produce_batch(spark, framed, str(tmp_path / "log"), "t", batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("produce_batch_jobs")) == 1


def test_party_partition_affinity_and_offsets(spark, tmp_path):
    """The reference keys every Kafka record by party id so one party's
    events stay ordered in one partition (KafkaFlusher.java:53-101);
    the emulator must preserve that affinity, with dense per-partition
    offsets that continue across produce batches."""
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    ev = _mapped_events(spark, 60)
    produce_batch(
        spark, kafka_frame(ev, _SCHEMA), log, "t", batch_id=0, n_partitions=3
    )
    produce_batch(
        spark, kafka_frame(ev, _SCHEMA), log, "t", batch_id=1, n_partitions=3
    )
    # replay of an applied batch id must be dropped
    produce_batch(
        spark, kafka_frame(ev, _SCHEMA), log, "t", batch_id=1, n_partitions=3
    )
    rows = read_topic(spark, log, "t").collect()
    assert len(rows) == 120  # 2 batches, replay dropped
    by_party = {}
    by_partition = {}
    for r in rows:
        by_party.setdefault(bytes(r.key), set()).add(r.partition)
        by_partition.setdefault(r.partition, []).append(r.offset)
        assert r.partition == partition_for_key(bytes(r.key), 3)
    for party, parts in by_party.items():
        assert len(parts) == 1, f"party {party} split across {parts}"
    for p, offsets in by_partition.items():
        assert sorted(offsets) == list(range(len(offsets))), (
            f"partition {p} offsets not dense/monotonic"
        )


def test_streaming_sink_to_streaming_scan_end_to_end(spark, tmp_path):
    """The full streaming topology: mapped events stream → K3 framing →
    emulated produce (foreachBatch) → emulated scan → decode — the
    integration path the connector-gated test exercises on a real
    broker."""
    src_dir = str(tmp_path / "src")
    log = str(tmp_path / "log")
    ev = _mapped_events(spark, 30)
    ev.repartition(3).write.mode("overwrite").json(src_dir)

    stream = (
        spark.readStream.schema(
            "party_id string, event_id string, event_type string, client_ms long"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    q = (
        emulated_kafka_sink(
            stream, log, "divolte", str(tmp_path / "ckpt"), _SCHEMA,
            mode="confluent", confluent_id=7,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "kafka emulator sink timed out"

    scan = emulated_kafka_stream(spark, log, "divolte")
    assert scan.isStreaming
    decoded = decode_kafka_events(scan, _SCHEMA, mode="confluent")
    q2 = (
        decoded.writeStream.format("memory")
        .queryName("kafka_e2e")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(600), "kafka emulator scan timed out"
    out = spark.sql("SELECT * FROM kafka_e2e").collect()
    assert len(out) == 30
    assert {r._schema_id for r in out} == {7}
    src = {r.event_id: r for r in ev.collect()}
    for r in out:
        assert r.party_id == src[r.event_id].party_id
        assert r.client_ms == src[r.event_id].client_ms


def test_new_producer_epoch_appends_despite_restarting_batch_ids(
    spark, tmp_path
):
    """A second producer run (fresh checkpoint) restarts foreachBatch
    ids at 0; with the epoch in the commit-dir name its batches APPEND
    instead of being mistaken for replays — Kafka's at-least-once for a
    non-idempotent producer — and offsets continue densely because
    bases derive from the committed log, not writer state."""
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    ev = _mapped_events(spark, 30)
    framed = kafka_frame(ev, _SCHEMA)
    produce_batch(
        spark, framed, log, "t", batch_id=0, n_partitions=3,
        producer_epoch="run1",
    )
    produce_batch(  # same id, NEW epoch: must append, not drop
        spark, framed, log, "t", batch_id=0, n_partitions=3,
        producer_epoch="run2",
    )
    rows = read_topic(spark, log, "t").collect()
    assert len(rows) == 60
    by_partition = {}
    for r in rows:
        by_partition.setdefault(r.partition, []).append(r.offset)
    for p, offsets in by_partition.items():
        assert sorted(offsets) == list(range(len(offsets)))


def test_offset_bases_o_batch_after_warmup(spark, tmp_path):
    """Producing to a many-segment topic must NOT re-scan the committed
    log per batch: the first derivation reads the watermark sidecars
    (no Spark scan), and subsequent produces in the same process use
    the in-memory watermark — O(batch) regardless of topic history."""
    import os

    import divolte_collector_spark.sources.kafka_emulator as ke
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    ev = _mapped_events(spark, 20)
    framed = kafka_frame(ev, _SCHEMA)
    for b in range(5):  # build a multi-segment history
        produce_batch(spark, framed, log, "t", batch_id=b, n_partitions=3)

    # fresh process simulation: drop the in-memory watermark, so the
    # next derivation re-reads the sidecars
    ke._WATERMARK_CACHE.clear()
    produce_batch(spark, framed, log, "t", batch_id=5, n_partitions=3)
    produce_batch(spark, framed, log, "t", batch_id=6, n_partitions=3)

    data_dir = ke._data_dir(log, "t")
    dirs = ke._committed_dirs(data_dir)
    assert len(dirs) == 7
    for d in dirs:  # the same rename commits data and sidecar
        assert os.path.isfile(os.path.join(data_dir, d, ke.WATERMARK_FILE))
    rows = read_topic(spark, log, "t").collect()
    assert len(rows) == 140
    by_partition = {}
    for r in rows:
        by_partition.setdefault(r.partition, []).append(r.offset)
    for p, offsets in by_partition.items():
        assert sorted(offsets) == list(range(len(offsets))), (
            f"partition {p} offsets not dense/monotonic"
        )


def test_missing_sidecar_fails_loudly_and_leaves_log_unchanged(
    spark, tmp_path
):
    """Every commit renames its ``_watermark.json`` in with its data,
    so a committed dir without one is corrupt input: offsets cannot be
    derived, and produce_batch must raise naming the missing file
    rather than mint offsets — leaving no new batch dir and no staging
    dir behind."""
    import os

    import divolte_collector_spark.sources.kafka_emulator as ke
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    framed = kafka_frame(_mapped_events(spark, 20), _SCHEMA)
    produce_batch(spark, framed, log, "t", batch_id=0, n_partitions=3)
    data_dir = ke._data_dir(log, "t")
    [batch_dir] = ke._committed_dirs(data_dir)
    sidecar = os.path.join(data_dir, batch_dir, ke.WATERMARK_FILE)

    def _topic_rows():
        return sorted(
            (r.partition, r.offset, bytes(r.key), bytes(r.value))
            for r in read_topic(spark, log, "t").collect()
        )

    first_rows = _topic_rows()
    assert len(first_rows) == 20
    os.unlink(sidecar)
    # a fresh process: no in-memory watermark to fall back on
    ke._WATERMARK_CACHE.clear()

    with pytest.raises(FileNotFoundError) as exc:
        produce_batch(spark, framed, log, "t", batch_id=1, n_partitions=3)
    assert exc.value.filename == sidecar
    assert ke._committed_dirs(data_dir) == [batch_dir]
    leftovers = [
        d for d in os.listdir(os.path.join(log, "t"))
        if d.startswith("_staging") or d == "_commit.lock"
    ]
    assert leftovers == []
    assert _topic_rows() == first_rows


def test_second_concurrent_producer_fences_the_first(spark, tmp_path):
    """Epoch fencing: a newer writer's claim fences the older writer,
    whose next batch fails loudly instead of minting overlapping
    offsets (single-active-producer-per-topic invariant)."""
    import divolte_collector_spark.sources.kafka_emulator as ke

    log = str(tmp_path / "log")
    ke.claim_topic(log, "t", "writer-A")
    ke.check_claim(log, "t", "writer-A")  # own claim passes
    ke.claim_topic(log, "t", "writer-B")  # newer producer takes over
    with pytest.raises(RuntimeError, match="fenced"):
        ke.check_claim(log, "t", "writer-A")
    ke.check_claim(log, "t", "writer-B")  # the new producer proceeds


def test_stale_watermark_cache_detects_foreign_commit(spark, tmp_path):
    """REGRESSION: the in-process watermark must notice a batch
    committed by ANOTHER process (simulated by restoring a stale cache
    entry) — the committed-dir count validates the cache, so offsets
    stay dense instead of overlapping."""
    import divolte_collector_spark.sources.kafka_emulator as ke
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    framed = kafka_frame(_mapped_events(spark, 15), _SCHEMA)
    produce_batch(spark, framed, log, "t", batch_id=0, n_partitions=3)
    data_dir = ke._data_dir(log, "t")
    stale = ke._WATERMARK_CACHE[data_dir]

    # "another process" commits batch 1 (this process's cache happens
    # to see it; the stale restore below undoes that knowledge)
    produce_batch(spark, framed, log, "t", batch_id=1, n_partitions=3)
    ke._WATERMARK_CACHE[data_dir] = stale  # poison: pre-batch-1 view

    produce_batch(spark, framed, log, "t", batch_id=2, n_partitions=3)
    rows = read_topic(spark, log, "t").collect()
    assert len(rows) == 45
    by_partition = {}
    for r in rows:
        by_partition.setdefault(r.partition, []).append(r.offset)
    for p, offsets in by_partition.items():
        assert sorted(offsets) == list(range(len(offsets))), (
            f"partition {p} offsets overlap: stale cache served"
        )


def test_writer_fenced_mid_batch_does_not_commit(
    spark, tmp_path, monkeypatch
):
    """REGRESSION (TOCTOU): a writer whose topic is claimed by a newer
    producer WHILE its batch is in flight must abort at the commit
    point, not publish overlapping offsets and fail only on the NEXT
    batch. The newer claim lands during the commit-lock tail
    (injected via the base derivation, which runs inside the lock
    just before the fencing re-check)."""
    import os

    import pytest as _pytest

    import divolte_collector_spark.sources.kafka_emulator as ke
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    framed = kafka_frame(_mapped_events(spark, 10), _SCHEMA)
    ke.claim_topic(log, "t", "writer-A")

    real_bases = ke._offset_bases

    def claim_b_then_derive(*a, **k):
        ke.claim_topic(log, "t", "writer-B")  # B takes over mid-batch
        return real_bases(*a, **k)

    monkeypatch.setattr(ke, "_offset_bases", claim_b_then_derive)
    with _pytest.raises(RuntimeError, match="fenced"):
        produce_batch(
            spark, framed, log, "t", batch_id=0, n_partitions=3,
            producer_epoch="writer-A",
        )
    monkeypatch.undo()
    # nothing committed, no staging left behind, lock released
    data_dir = ke._data_dir(log, "t")
    assert ke._committed_dirs(data_dir) == []
    leftovers = [
        d for d in os.listdir(os.path.join(log, "t"))
        if d.startswith("_staging") or d == "_commit.lock"
    ]
    assert leftovers == []
    # the surviving producer B proceeds normally on the same topic
    produce_batch(
        spark, framed, log, "t", batch_id=0, n_partitions=3,
        producer_epoch="writer-B",
    )
    assert len(read_topic(spark, log, "t").collect()) == 10


def test_break_stale_lock_removes_only_the_measured_lock(tmp_path):
    """The breaker renames the lock to a private tombstone and deletes
    it only after verifying (owner token + mtime) it is the same lock
    it measured stale — a fresh lock re-acquired in the race window is
    restored, not deleted."""
    import os
    import time as _time

    import divolte_collector_spark.sources.kafka_emulator as ke

    topic_dir = str(tmp_path / "t")
    os.makedirs(topic_dir)
    lock = os.path.join(topic_dir, "_commit.lock")

    # genuinely stale lock: broken, directory gone
    os.mkdir(lock)
    with open(os.path.join(lock, "owner"), "w") as fh:
        fh.write("dead-producer")
    old = _time.time() - ke._COMMIT_LOCK_STALE_S - 60
    os.utime(lock, (old, old))
    ke._break_stale_lock(lock)
    assert not os.path.exists(lock)
    assert not any(
        e.startswith("_commit.lock.tomb") for e in os.listdir(topic_dir)
    ), "verified break must remove its tombstone"

    # raced re-acquire: owner token changes between measure and rename
    # (simulated by swapping the owner file mid-break) -> restored
    os.mkdir(lock)
    with open(os.path.join(lock, "owner"), "w") as fh:
        fh.write("fresh-producer")
    os.utime(lock, (old, old))  # age says stale...

    real_rename = os.rename
    state = {"swapped": False}

    def racing_rename(src, dst):
        # after the breaker's pre-measure, simulate the fresh owner
        # appearing: change the token just before the rename lands
        if not state["swapped"] and src == lock:
            with open(os.path.join(lock, "owner"), "w") as fh:
                fh.write("even-fresher")
            state["swapped"] = True
        return real_rename(src, dst)

    ke.os.rename = racing_rename
    try:
        ke._break_stale_lock(lock)
    finally:
        ke.os.rename = real_rename
    assert os.path.exists(lock), "mismatched lock must be restored"
    with open(os.path.join(lock, "owner")) as fh:
        assert fh.read() == "even-fresher"


_NULLABLE_PARTY = {
    **_SCHEMA,
    "fields": [
        {"name": "party_id", "type": ["null", "string"], "default": None}
    ]
    + _SCHEMA["fields"][1:],
}


def test_null_keys_go_to_partition_zero_in_byte_order(spark, tmp_path):
    """A null party id frames a null key, which the partitioner sends to
    partition 0. Within each batch and partition, offsets follow the
    (key, value) byte order with nulls first; offsets stay dense across
    batches; and the consumer's key audit accepts every record."""
    from divolte_collector_spark.streaming.sinks import kafka_frame

    log = str(tmp_path / "log")
    ev = _mapped_events(spark, 40).withColumn(
        "party_id",
        F.when(F.col("client_ms") % 500 == 0, F.lit(None)).otherwise(
            F.col("party_id")
        ),
    )
    framed = kafka_frame(ev, _NULLABLE_PARTY)
    produce_batch(spark, framed, log, "t", batch_id=0, n_partitions=3)
    produce_batch(spark, framed, log, "t", batch_id=1, n_partitions=3)

    topic = read_topic(spark, log, "t")
    rows = topic.select(
        "*", F.col("_metadata.file_path").alias("file")
    ).collect()
    assert len(rows) == 80
    null_keyed = [r for r in rows if r.key is None]
    assert len(null_keyed) == 2 * 8
    assert {r.partition for r in null_keyed} == {0}
    by_partition = {}
    by_segment = {}
    for r in rows:
        by_partition.setdefault(r.partition, []).append(r.offset)
        by_segment.setdefault((r.file, r.partition), []).append(r)
    for p, offsets in by_partition.items():
        assert sorted(offsets) == list(range(len(offsets))), p
    for seg in by_segment.values():
        in_offset_order = [
            (r.key is not None, bytes(r.key or b""), bytes(r.value))
            for r in sorted(seg, key=lambda r: r.offset)
        ]
        assert in_offset_order == sorted(in_offset_order)

    decoded = decode_kafka_events(topic, _NULLABLE_PARTY, verify_key=True)
    audit = decoded.select("party_id", "_key_matches").collect()
    assert len(audit) == 80
    assert all(r._key_matches is True for r in audit)
    assert sum(r.party_id is None for r in audit) == 16


def test_sink_crash_after_produce_redelivers_under_new_epoch(
    spark, tmp_path, monkeypatch
):
    """Crash-and-restart for ``emulated_kafka_sink``: ``foreachBatch``
    fails after ``produce_batch`` committed batch 1 but before Spark
    committed its offset. A restart on the same checkpoint redelivers
    batch 1 under a new producer epoch. No event is lost; the only
    duplicates are batch 1's records, byte for byte; offsets stay
    dense. A replay of batch 1 within the first run is dropped."""
    import glob
    import os

    import pyarrow.parquet as pq

    import divolte_collector_spark.sources.kafka_emulator as ke

    src_dir = str(tmp_path / "src")
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    ev = _mapped_events(spark, 30)
    ev.repartition(3).write.mode("overwrite").json(src_dir)

    real_produce = ke.produce_batch
    crashed = []

    def produce_then_crash(spark_, framed, log_dir, topic, batch_id, **kw):
        real_produce(spark_, framed, log_dir, topic, batch_id, **kw)
        if batch_id == 1 and not crashed:
            # a redelivery within the same producer run: dropped
            real_produce(spark_, framed, log_dir, topic, batch_id, **kw)
            crashed.append(kw["producer_epoch"])
            raise RuntimeError("crash between produce and offset commit")

    monkeypatch.setattr(ke, "produce_batch", produce_then_crash)

    def run():
        stream = (
            spark.readStream.schema(
                "party_id string, event_id string, event_type string, "
                "client_ms long"
            )
            .option("maxFilesPerTrigger", "1")
            .json(src_dir)
        )
        q = (
            ke.emulated_kafka_sink(stream, log, "t", ckpt, _SCHEMA)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        return q

    with pytest.raises(Exception, match="crash between produce"):
        run()
    q = run()
    assert q.exception() is None

    data_dir = ke._data_dir(log, "t")
    segments = {}
    for d in ke._committed_dirs(data_dir):
        epoch, batch_id = d[len("batch="):].rsplit("-", 1)
        [path] = glob.glob(os.path.join(data_dir, d, "*.parquet"))
        tbl = pq.read_table(path)
        segments[(epoch, int(batch_id))] = sorted(
            zip(tbl.column("key").to_pylist(), tbl.column("value").to_pylist())
        )
    [first] = crashed
    [second] = {e for e, _ in segments} - {first}
    assert set(segments) == {
        (first, 0), (first, 1), (second, 1), (second, 2)
    }
    assert segments[(first, 1)] == segments[(second, 1)]
    assert segments[(first, 1)]

    topic = read_topic(spark, log, "t")
    counts = {}
    for r in decode_kafka_events(topic, _SCHEMA).collect():
        counts[r.event_id] = counts.get(r.event_id, 0) + 1
    assert set(counts) == {r.event_id for r in ev.collect()}
    batch_1 = topic.where(
        F.col("_metadata.file_path").contains(f"batch={first}-{1:010d}/")
    )
    assert {eid for eid, n in counts.items() if n > 1} == {
        r.event_id for r in decode_kafka_events(batch_1, _SCHEMA).collect()
    }
    assert max(counts.values()) == 2
    by_partition = {}
    for r in topic.select("partition", "offset").collect():
        by_partition.setdefault(r.partition, []).append(r.offset)
    for p, offsets in by_partition.items():
        assert sorted(offsets) == list(range(len(offsets))), p
