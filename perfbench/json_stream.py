"""``json_stream``: open loop at a fixed offered rate.

JSON request files, pre-rendered from the seed, are renamed into a
file-stream source directory when due (no JSON is rendered while the
stream runs).  The query is ``parse_json_events`` ->
``dedup_events_stream`` -> a ``MappingBuilder`` mapping -> a
``foreachBatch`` of ``kafka_frame`` + ``produce_batch`` into the Kafka
emulator, keyed by party id.  An event's latency runs from when it was
due to when its batch's ``batch=`` directory committed; the topic is
read back afterwards and every event must appear exactly once.
"""

from __future__ import annotations

import os
import threading
import time

from perfbench import gen, procstat, stats

RATE = 1_000                 # offered events per second
FILE_INTERVAL_S = 0.25       # one request file per slot
TRIGGER_S = 2
WARMUP_S = 26.0
WATERMARK = "15 seconds"
DRAIN_TIMEOUT_S = 40.0
TOPIC = "events"
#: latency charged to an event that never arrives
LOST_MS = 120_000.0

SCHEMA = {
    "type": "record",
    "name": "StreamEvent",
    "namespace": "perfbench",
    "fields": [
        {"name": "party_id", "type": ["null", "string"], "default": None},
        {"name": "session_id", "type": ["null", "string"], "default": None},
        {"name": "event_id", "type": ["null", "string"], "default": None},
        {"name": "event_type", "type": ["null", "string"], "default": None},
        {"name": "client_ms", "type": ["null", "long"], "default": None},
        {"name": "new_session", "type": "boolean", "default": False},
        {"name": "params", "type": ["null", "string"], "default": None},
        {"name": "is_purchase", "type": "boolean", "default": False},
    ],
}

PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.wal_commit_ms": "walCommit",
}


def build_mapping():
    from pyspark.sql import functions as F

    from divolte_collector_spark.mapping.dsl import MappingBuilder

    m = MappingBuilder(SCHEMA)
    for c in ("party_id", "session_id", "event_id", "event_type"):
        m.map_value(F.col(c), c)
    m.map_value(F.unix_millis(F.col("client_time")), "client_ms")
    m.map_value(F.col("first_in_session"), "new_session")
    m.map_value(F.col("event_parameters"), "params")
    with m.when(F.col("event_type") == "purchase"):
        m.map_literal(True, "is_purchase")
    return m


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Keeps every progress event's phases, rows and state size."""

        def __init__(self):
            self.batches = []
            self.rows = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.batches.append({
                "id": p.batchId,
                "rows": p.numInputRows,
                "durations": dict(p.durationMs or {}),
                "state_rows": sum(s.numRowsTotal for s in ops),
                "state_bytes": sum(s.memoryUsedBytes for s in ops),
            })
            self.rows += p.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress


class Feeder(threading.Thread):
    """Renames each pre-rendered file into the source directory when
    its slot ends, relative to ``t0``; records how late each rename ran."""

    def __init__(self, files, staged: str, source: str, t0: float):
        super().__init__(daemon=True)
        self.files, self.staged, self.source, self.t0 = files, staged, source, t0
        self.lag_ms: list[float] = []
        self.sent_lines = 0
        self.halt = threading.Event()

    def run(self):
        for f in self.files:
            due = self.t0 + f["due_s"] + FILE_INTERVAL_S
            wait = due - time.time()
            if wait > 0 and self.halt.wait(wait):
                return
            os.rename(os.path.join(self.staged, f["name"]),
                      os.path.join(self.source, f["name"]))
            now = time.time()
            self.lag_ms.append((now - due) * 1000.0)
            self.sent_lines += len(f["events"])


def run(ctx) -> None:
    staged, source = ctx.path("staged"), ctx.path("source")
    os.makedirs(source)
    horizon = WARMUP_S + ctx.seconds
    t = time.time()
    files = gen.render_json_stream(ctx.seed, staged, RATE, horizon + FILE_INTERVAL_S,
                                   FILE_INTERVAL_S)
    ctx.render_s = time.time() - t
    # the first slot is on disk before the query starts: set-up ends when
    # its batch commits, and the open loop's clock starts there
    first, files = files[0], files[1:]
    os.rename(os.path.join(staged, first["name"]), os.path.join(source, first["name"]))
    shift_ms = FILE_INTERVAL_S * 1000.0
    for f in files:
        f["due_s"] -= FILE_INTERVAL_S
        f["events"] = [(p, e, d - shift_ms, r) for p, e, d, r in f["events"]]

    from pyspark.sql import types as T

    from divolte_collector_spark.sources.json_source import parse_json_events
    from divolte_collector_spark.sources.kafka_emulator import produce_batch
    from divolte_collector_spark.streaming.ingest import dedup_events_stream
    from divolte_collector_spark.streaming.sinks import kafka_frame

    spark = ctx.start_spark()
    listener = _listener_class()()
    spark.streams.addListener(listener)
    mapping = build_mapping()
    log_dir = ctx.path("kafka")
    commits: dict[int, float] = {}
    traced_from = [float("inf")]
    batch_ms: dict[str, list] = {"streaming.batch_upstream_ms": [],
                                 "streaming.sinks.kafka_frame_ms": [],
                                 "sources.kafka_emulator.produce_batch_ms": []}

    def write_batch(df, batch_id):
        if time.time() < traced_from[0]:
            produce_batch(df.sparkSession, kafka_frame(df, SCHEMA), log_dir, TOPIC, batch_id)
        else:
            t0 = time.perf_counter()
            df.persist()
            df.count()
            t1 = time.perf_counter()
            framed = kafka_frame(df, SCHEMA).persist()
            framed.count()
            t2 = time.perf_counter()
            produce_batch(df.sparkSession, framed, log_dir, TOPIC, batch_id)
            t3 = time.perf_counter()
            framed.unpersist()
            df.unpersist()
            batch_ms["streaming.batch_upstream_ms"].append((t1 - t0) * 1000.0)
            batch_ms["streaming.sinks.kafka_frame_ms"].append((t2 - t1) * 1000.0)
            batch_ms["sources.kafka_emulator.produce_batch_ms"].append((t3 - t2) * 1000.0)
        commits[batch_id] = time.time()

    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in ("party_id_param", "remote_host", "body")])
    events = parse_json_events(spark.readStream.schema(schema).json(source))
    deduped = dedup_events_stream(events, watermark=WATERMARK)
    query = (
        mapping.apply(deduped).writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ctx.path("checkpoint"))
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .start()
    )
    _wait(lambda: 0 in commits, 120, "first batch")
    setup_s = ctx.setup_done()

    # Spark fires processing-time triggers on wall-clock multiples of the
    # interval.  Starting the clock half a slot past the slot grid fixes
    # where files land between triggers, so the wait for the next trigger
    # has the same distribution in every run instead of shifting with
    # the phase the set-up happened to end at.
    t0 = (time.time() // FILE_INTERVAL_S + 2) * FILE_INTERVAL_S + FILE_INTERVAL_S / 2
    feeder = Feeder(files, staged, source, t0)
    win0, win1 = t0 + WARMUP_S, t0 + horizon
    if ctx.trace:
        traced_from[0] = win0 + ctx.seconds / 2
    feeder.start()
    try:
        time.sleep(max(0.0, win0 - time.time()))
        # memory is sampled in traced runs only: the sampler thread would
        # otherwise compete with foreachBatch for the interpreter lock
        rss = procstat.MemorySampler().start() if ctx.trace else None
        with procstat.CpuWindow() as cpu:
            time.sleep(max(0.0, win1 - time.time()))
        if rss is not None:
            rss.stop()
        feeder.join()
        total_lines = len(first["events"]) + feeder.sent_lines
        _wait(lambda: listener.rows >= total_lines, DRAIN_TIMEOUT_S, "drain")
    finally:
        feeder.halt.set()
        query.stop()

    # read the topic back: each sent event exactly once, keyed by its party
    sent = {}
    for f in [first] + files:
        for party, eid, due_ms, resend in f["events"]:
            if not resend:
                sent[eid] = (party, due_ms)
    got = _read_back(spark, log_dir)
    lost = [e for e in sent if e not in got]
    dup = sum(1 for _b, n, _ok, _p in got.values() if n != 1)
    miskeyed = sum(1 for e, (_b, _n, ok, p) in got.items()
                   if not ok or (e in sent and sent[e][0] != p))
    unexpected = sum(1 for e in got if e not in sent)
    ctx.attempted = len(sent)
    ctx.failed = len(lost) + dup + miskeyed + unexpected
    if ctx.failed:
        ctx.notes.append(f"lost {len(lost)}, duplicated {dup}, mis-keyed {miskeyed}, "
                         f"unexpected {unexpected}")

    def latencies(lo, hi):
        out = []
        for eid, (_, due_ms) in sent.items():
            due = t0 + due_ms / 1000.0
            if lo <= due < hi:
                b = got[eid][0] if eid in got else None
                out.append((commits[b] - due) * 1000.0 if b in commits else LOST_MS)
        return out

    lat = latencies(win0, win1)
    measured = len(lat)
    # events committed per second from the window's start until its last
    # event committed: at a fixed offered rate this is the delivered
    # share of that rate, not spare capacity (wire_backfill measures that)
    delivered = [t for t in lat if t < LOST_MS]
    span = max(delivered) / 1000.0 + ctx.seconds if delivered else ctx.seconds
    context = {
        "events_measured": measured,
        "batches": len(listener.batches),
        "box": cpu.box,
        "render_s": ctx.render_s,
        "latency_p99": stats.summarize(lat, 99),
        "generator_lag_ms_max": max(feeder.lag_ms),
        "batch_ms": [(b["id"], b["rows"], b["durations"].get("triggerExecution"))
                     for b in listener.batches],
    }
    if not ctx.trace:
        ctx.emit(
            {
                "setup_s": (setup_s, "s"),
                "events_per_s": (len(delivered) / span, "1/s"),
                "latency_p50_ms": (stats.percentile(lat, 50), "ms"),
                "latency_p99_ms": (stats.percentile(lat, 99), "ms"),
                "cpu_s_per_kevent": (cpu.cpu_s / (measured / 1000.0), "s"),
            },
            context,
        )
        return

    traced = [b for b in listener.batches if b["id"] in commits
              and commits[b["id"]] >= traced_from[0] and b["rows"] > 0]
    layers = {name: (stats.median([b["durations"].get(key, 0) for b in traced]), "ms")
              for name, key in PHASES.items()}
    layers["streaming.rows_per_batch"] = (stats.median([b["rows"] for b in traced]), "count")
    layers["streaming.state_rows"] = (stats.median([b["state_rows"] for b in traced]), "count")
    layers["streaming.state_memory_mb"] = (
        stats.median([b["state_bytes"] for b in traced]) / 2**20, "MB")
    for name, vals in batch_ms.items():
        layers[name] = (stats.median(vals), "ms")
    layers["generator.lag_ms_p99"] = (stats.percentile(feeder.lag_ms, 99), "ms")
    untraced_p50 = stats.percentile(latencies(win0, traced_from[0]), 50)
    traced_p50 = stats.percentile(latencies(traced_from[0], win1), 50)
    layers["trace.overhead_pct"] = (100.0 * (traced_p50 - untraced_p50) / untraced_p50, "%")
    layers["process.peak_rss_mb"] = (rss.peak_mb, "MB")
    layers["process.peak_jvm_mb"] = (rss.peak_jvm_mb, "MB")
    ctx.emit(layers, context)


def _wait(cond, timeout_s: float, what: str) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(0.05)


def _read_back(spark, log_dir: str) -> dict:
    """``{event_id: (batch_id, copies, key_matches, party_id)}`` from
    the topic; the batch comes from the ``batch=`` directory a record
    was committed in."""
    from pyspark.sql import functions as F

    from divolte_collector_spark.sources.kafka_emulator import read_topic
    from divolte_collector_spark.sources.kafka_source import decode_kafka_events

    topic = read_topic(spark, log_dir, TOPIC)
    where = topic.select(
        F.col("partition").alias("_partition"), F.col("offset").alias("_offset"),
        F.regexp_extract(F.col("_metadata.file_path"), r"batch=[^/]*-(\d+)/", 1)
        .cast("long").alias("batch"))
    rows = (
        decode_kafka_events(topic, SCHEMA, verify_key=True)
        .join(where, ["_partition", "_offset"])
        .groupBy("event_id")
        .agg(F.min("batch").alias("batch"), F.count(F.lit(1)).alias("n"),
             F.min(F.col("_key_matches").cast("int")).alias("ok"),
             F.first("party_id").alias("party"))
        .collect()
    )
    return {r["event_id"]: (r["batch"], r["n"], r["ok"] == 1, r["party"]) for r in rows}
