"""``wire_backfill``: closed loop, one client.

Each pass reads a seeded set of browser access logs through
``divolte-wirelog`` -> ``parse_browser_events`` -> the batch duplicate
memory (``flag_probable_duplicates``; ``dedup_events_stream`` refuses
batch frames) -> a ``MappingBuilder`` mapping with the user-agent
classifier -> ``write_avro_files``, and the Avro files are read back
and checked against what the generator planted.  Every pass gets its
own copy of the logs, written before the pass is timed, in which only
the one-off payloads and user agents differ (see ``gen.WireLogs``).
An event's latency is the time from its pass's start until its Avro
file was written.  A pass's CPU time is taken around the pipeline
alone; the read-back check runs outside it.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from perfbench import gen, procstat, stats

#: events per pass, spread over N_FILES logs (one input partition each)
N_EVENTS = 12_000
N_FILES = 4
#: events per second of client time: write_avro_files rolls one file
#: per second of event time, so a pass writes N_EVENTS / EVENTS_PER_S files
EVENTS_PER_S = 80
#: after the cold pass the JVM's share of a pass's CPU keeps falling for
#: about four passes (JIT) before pass times level off
WARMUP_PASSES = 4
MIN_PASSES = 3
LADDER_REPS = 2
KERNEL_SAMPLE = 2_000
#: analyst-side events table the traced run queries
QUERY_ROWS = 50_000
QUERY_USERS = 2_000
#: the events-only HEADLINE queries of bench.py the traced run times
EVENT_QUERIES = [
    "sessionize_30min",
    "session_window_native",
    "funnel_view_click_purchase",
    "daily_active_users",
    "asof_last_view_before_purchase",
    "browser_wire_roundtrip",
    "dsl_mapping_segments",
]

SCHEMA = {
    "type": "record",
    "name": "BackfillEvent",
    "namespace": "perfbench",
    "fields": [
        {"name": "party_id", "type": ["null", "string"], "default": None},
        {"name": "session_id", "type": ["null", "string"], "default": None},
        {"name": "event_id", "type": ["null", "string"], "default": None},
        {"name": "event_type", "type": ["null", "string"], "default": None},
        {"name": "corrupt", "type": "boolean", "default": False},
        {"name": "client_ms", "type": ["null", "long"], "default": None},
        {"name": "location", "type": ["null", "string"], "default": None},
        {"name": "params", "type": ["null", "string"], "default": None},
        {"name": "viewport_width", "type": ["null", "int"], "default": None},
        {"name": "ua_family", "type": ["null", "string"], "default": None},
        {"name": "ua_os", "type": ["null", "string"], "default": None},
        {"name": "ua_device", "type": ["null", "string"], "default": None},
        {"name": "is_purchase", "type": "boolean", "default": False},
    ],
}

#: the decoded columns the duplicate memory and the mapping read; the
#: ladder writes only these, as the full pass lets Spark prune the rest
MAPPING_INPUTS = [
    "party_id", "session_id", "event_id", "event_type", "corrupt_event",
    "client_time", "browser", "event_parameters", "user_agent",
]

STAGES = [
    "sources.wirelog.read_s",
    "sources.browser.decode_s",
    "operators.dupmemory.flag_s",
    "mapping.dsl.apply_s",
    "streaming.sinks.write_avro_s",
]


def build_mapping():
    from pyspark.sql import functions as F

    from divolte_collector_spark.functions.useragent import user_agent_struct
    from divolte_collector_spark.mapping.dsl import MappingBuilder

    m = MappingBuilder(SCHEMA)
    for c in ("party_id", "session_id", "event_id", "event_type"):
        m.map_value(F.col(c), c)
    m.map_value(F.col("corrupt_event"), "corrupt")
    m.map_value(F.unix_millis(F.col("client_time")), "client_ms")
    m.map_value(F.col("browser.location"), "location")
    m.map_value(F.col("event_parameters"), "params")
    m.map_value(F.col("browser.viewport_pixel_width"), "viewport_width")
    ua = user_agent_struct(F.col("user_agent"))
    m.map_value(ua.family, "ua_family")
    m.map_value(ua.os_family, "ua_os")
    m.map_value(ua.device_category, "ua_device")
    with m.when(F.col("event_type") == "purchase"):
        m.map_literal(True, "is_purchase")
    return m


def prefixes(spark, logs: str, mapping) -> list:
    """The pipeline's first four stages as successive DataFrames."""
    from pyspark.sql import functions as F

    from divolte_collector_spark.operators.dupmemory import flag_probable_duplicates
    from divolte_collector_spark.sources.browser import parse_browser_events

    raw = spark.read.format("divolte-wirelog").load(logs).filter(
        F.col("path") == "/csc-event"
    )
    decoded = parse_browser_events(raw)
    deduped = flag_probable_duplicates(decoded).filter(~F.col("detected_duplicate"))
    mapped = mapping.apply(deduped).withColumn(
        "client_time", F.timestamp_millis(F.col("client_ms"))
    )
    return [raw, decoded, deduped, mapped]


def one_pass(spark, logs: str, mapping, out: str, tag: str) -> dict:
    """Run the whole pipeline once; returns its wall time, the CPU
    seconds of the process tree and the manifest."""
    from divolte_collector_spark.streaming.sinks import write_avro_files

    cpu0 = procstat.tree_usage()["cpu_s"]
    t0 = time.time()
    mapped = prefixes(spark, logs, mapping)[-1]
    manifest = write_avro_files(mapped, SCHEMA, out, batch_tag=tag)
    wall_s = time.time() - t0
    cpu_s = procstat.tree_usage()["cpu_s"] - cpu0
    return {"t0": t0, "wall_s": wall_s, "cpu_s": cpu_s, "manifest": manifest}


def check_pass(out: str, expected: dict) -> tuple[bool, list, int]:
    """Read every published file back; the event-id set and corrupt
    flags must equal the generator's, each event exactly once.
    Returns (ok, [(mtime_s, n_records)], bytes)."""
    from divolte_collector_spark.functions.avro_codec import read_container

    got: dict = {}
    dupes = 0
    files = []
    size = 0
    for f in sorted(glob.glob(os.path.join(out, "*.avro"))):
        with open(f, "rb") as fh:
            buf = fh.read()
        size += len(buf)
        _, records = read_container(buf)
        files.append((os.stat(f).st_mtime_ns / 1e9, len(records)))
        for r in records:
            if r["event_id"] in got:
                dupes += 1
            got[r["event_id"]] = r["corrupt"]
    leftovers = glob.glob(os.path.join(out, "*.partial"))
    return (got == expected and not dupes and not leftovers), files, size


def run(ctx) -> None:
    t = time.time()
    wire = gen.WireLogs(ctx.seed, N_EVENTS, N_FILES, EVENTS_PER_S)
    written = [0]

    def fresh_logs() -> str:
        """The next pass's logs, written before it is timed."""
        written[0] += 1
        logs = ctx.path("logs", f"pass{written[0]}")
        wire.write(logs, written[0])
        return logs

    first_logs = fresh_logs()
    ctx.render_s = time.time() - t
    expected = wire.expected

    from divolte_collector_spark.sources.wirelog import WireLogDataSource

    spark = ctx.start_spark()
    spark_s = ctx.setup_done()
    spark.dataSource.register(WireLogDataSource)
    mapping = build_mapping()

    n = [0]

    def do_pass(logs=None):
        logs = logs or fresh_logs()
        n[0] += 1
        out = ctx.path("out", f"pass{n[0]}")
        ctx.attempted += 1
        try:
            res = one_pass(spark, logs, mapping, out, f"p{n[0]}")
            ok, files, size = check_pass(out, expected)
        except Exception as exc:  # a failed pass counts, the run goes on
            ctx.failed += 1
            ctx.notes.append(f"pass {n[0]} raised {type(exc).__name__}: {exc}"[:300])
            return None
        finally:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(logs, ignore_errors=True)
        if not ok:
            ctx.failed += 1
            ctx.notes.append(f"pass {n[0]} published the wrong events")
        res.update(files=files, bytes=size)
        return res

    # set-up ends when the first (cold) pass has published
    do_pass(first_logs)
    setup_s = ctx.setup_done()
    warmup = [do_pass() for _ in range(WARMUP_PASSES)]

    passes = []
    with procstat.CpuWindow() as cpu:
        deadline = time.monotonic() + ctx.seconds
        while time.monotonic() < deadline or len(passes) < MIN_PASSES:
            res = do_pass()
            if res is not None:
                passes.append(res)
    if not passes:
        raise RuntimeError("no pass completed")

    published = sum(k for _, k in passes[0]["manifest"])
    pass_s = stats.median([p["wall_s"] for p in passes])
    # latency percentiles are taken per pass and the median pass is
    # reported, like events_per_s: pooling the passes would let the
    # slowest pass alone set the p99
    latencies = []
    for p in passes:
        lat = []
        for mtime, k in p["files"]:
            lat.extend([(mtime - p["t0"]) * 1000.0] * k)
        latencies.append(lat)
    context = {
        "spark_s": spark_s,
        "warmup_pass_s": [round(p["wall_s"], 4) for p in warmup if p],
        "passes": len(passes),
        "pass_s": [round(p["wall_s"], 4) for p in passes],
        "events_per_pass": published,
        "pass_cpu_s": [round(p["cpu_s"], 4) for p in passes],
        "planted": wire.counts,
        "box": cpu.box,
        "render_s": ctx.render_s,
        "latency_p99": [stats.summarize(lat, 99) for lat in latencies],
    }
    if not ctx.trace:
        ctx.emit(
            {
                "setup_s": (setup_s, "s"),
                "events_per_s": (published / pass_s, "1/s"),
                "latency_p50_ms": (
                    stats.median([stats.percentile(lat, 50) for lat in latencies]), "ms"),
                "latency_p99_ms": (
                    stats.median([stats.percentile(lat, 99) for lat in latencies]), "ms"),
                "cpu_s_per_kevent": (
                    stats.median([p["cpu_s"] for p in passes]) / (published / 1000.0), "s"),
            },
            context,
        )
        return

    # memory is sampled over the ladder only, as part of the traced run:
    # the sampler thread shares this interpreter with the pipeline
    rss = procstat.MemorySampler().start()
    layers = trace_layers(spark, ctx, fresh_logs, mapping, pass_s)
    rss.stop()
    layers["streaming.sinks.files_written"] = (
        stats.median([len(p["files"]) for p in passes]), "count")
    layers["streaming.sinks.bytes_per_event"] = (
        stats.median([p["bytes"] for p in passes]) / published, "B")
    logs = fresh_logs()
    layers.update(kernels(logs))
    shutil.rmtree(logs, ignore_errors=True)
    layers.update(trace_queries(spark, ctx))
    layers["process.peak_rss_mb"] = (rss.peak_mb, "MB")
    layers["process.peak_jvm_mb"] = (rss.peak_jvm_mb, "MB")
    ctx.emit(layers, context)


def trace_layers(spark, ctx, fresh_logs, mapping, untraced_pass_s: float) -> dict:
    """Self time per stage: materialize successive prefixes into the
    noop sink (the last stage is the real Avro write), interleaved rep
    by rep, each on fresh logs; stage i's self time is the median over
    reps of prefix i minus prefix i-1.  A prefix is written with only
    the columns later stages read.  The self times are compared with
    the untraced pass, so the residual holds what the ladder misses or
    adds, and with the ladder's own full pass, for the overhead."""
    cum = {name: [] for name in STAGES}
    for r in range(LADDER_REPS):
        for i, name in enumerate(STAGES[:-1]):
            logs = fresh_logs()
            t0 = time.perf_counter()
            df = prefixes(spark, logs, mapping)[i]
            if name in ("sources.browser.decode_s", "operators.dupmemory.flag_s"):
                df = df.select(*MAPPING_INPUTS)
            df.write.format("noop").mode("overwrite").save()
            cum[name].append(time.perf_counter() - t0)
            shutil.rmtree(logs, ignore_errors=True)
        logs = fresh_logs()
        out = ctx.path("out", f"ladder{r}")
        res = one_pass(spark, logs, mapping, out, f"l{r}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(logs, ignore_errors=True)
        cum[STAGES[-1]].append(res["wall_s"])
    per_rep = [
        stats.prefix_self_times(STAGES, [cum[s][r] for s in STAGES])
        for r in range(LADDER_REPS)
    ]
    out = {s: (stats.median([p[s] for p in per_rep]), "s") for s in STAGES}
    traced_pass = stats.median(cum[STAGES[-1]])
    self_sum = sum(v for v, _ in out.values())
    out["trace.pass_s"] = (traced_pass, "s")
    out["trace.self_time_share"] = (self_sum / untraced_pass_s, "ratio")
    out["trace.residual_s"] = (untraced_pass_s - self_sum, "s")
    out["trace.overhead_pct"] = (
        100.0 * (traced_pass - untraced_pass_s) / untraced_pass_s, "%")
    return out


def _time_per_item(fn, items, reps: int = 5) -> float:
    """Median over reps of the microseconds ``fn(items)`` spends per item."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(items)
        times.append(time.perf_counter() - t0)
    return stats.median(times) * 1e6 / len(items)


def kernels(logs: str) -> dict:
    """Single-thread kernels on the first KERNEL_SAMPLE requests."""
    from urllib.parse import parse_qs

    from divolte_collector_spark.functions import avro_codec, mincode, useragent
    from divolte_collector_spark.functions.murmur import murmur3_32_signed_batch
    from divolte_collector_spark.sources.browser import decode_wire_batch
    from divolte_collector_spark.sources.wirelog import parse_line

    rows = []
    with open(os.path.join(logs, "access-00.log")) as fh:
        for line in fh:
            rows.append(parse_line(line))
            if len(rows) == KERNEL_SAMPLE:
                break
    qs = [r[3] for r in rows]
    agents = [r[4] for r in rows]
    payloads = [v[0] for v in (parse_qs(q).get("u") for q in qs) if v]
    decoded = decode_wire_batch(qs)
    records = [
        {f["name"]: None for f in SCHEMA["fields"]}
        | {"party_id": p, "session_id": s, "event_id": e, "event_type": t,
           "corrupt": bool(c), "client_ms": ms, "params": j, "is_purchase": False}
        for p, s, e, t, c, ms, j in zip(
            decoded["party_id"], decoded["session_id"], decoded["event_id"],
            decoded["event_type"], decoded["corrupt_event"], decoded["_client_ms"],
            decoded["event_parameters"])
    ]
    sync = avro_codec.default_sync_marker(SCHEMA)

    def classify(items):
        useragent.classify_user_agent.cache_clear()
        for a in items:
            useragent.classify_user_agent(a)

    return {
        "sources.browser.decode_wire_batch_us_per_row": (
            _time_per_item(decode_wire_batch, qs), "us"),
        "functions.murmur.batch_us_per_row": (
            _time_per_item(murmur3_32_signed_batch, qs), "us"),
        "functions.mincode.to_json_us_per_call": (
            _time_per_item(lambda xs: [mincode.mincode_to_json(x) for x in xs], payloads), "us"),
        "functions.useragent.classify_us_per_call": (
            _time_per_item(classify, agents), "us"),
        "functions.avro_codec.container_block_us_per_record": (
            _time_per_item(lambda rs: avro_codec.container_block(SCHEMA, rs, sync), records), "us"),
    }


def trace_queries(spark, ctx) -> dict:
    """``build_ms`` (the registered call, prepared-plan cache included)
    and ``exec_ms`` (noop write) for each events-only headline query on
    a seeded events table, three calls each, median reported; each
    result is checked once against the table it read."""
    from divolte_collector_spark.queries import all_queries
    from divolte_collector_spark.session import load_table

    sf_dir = ctx.path("tables")
    gen.render_events_table(ctx.seed, os.path.join(sf_dir, "events.parquet"),
                            QUERY_ROWS, QUERY_USERS)
    t0 = time.perf_counter()
    events = load_table(spark, sf_dir, "events")
    out = {"session.load_table_ms": ((time.perf_counter() - t0) * 1000.0, "ms")}
    n_rows = events.count()
    registry = all_queries()
    for name in EVENT_QUERIES:
        build, exe = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            df = registry[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exe.append((time.perf_counter() - t1) * 1000.0)
            build.append((t1 - t0) * 1000.0)
            spark.catalog.clearCache()
        ctx.attempted += 1
        if not _query_ok(name, registry[name].fn(spark, sf_dir), n_rows):
            ctx.failed += 1
            ctx.notes.append(f"query {name} returned a wrong result")
        spark.catalog.clearCache()
        out[f"queries.{name}.build_ms"] = (stats.median(build), "ms")
        out[f"queries.{name}.exec_ms"] = (stats.median(exe), "ms")
    return out


def _query_ok(name: str, df, n_rows: int) -> bool:
    """Invariants each query's result must satisfy on any events table."""
    from pyspark.sql import functions as F

    if name in ("sessionize_30min", "session_window_native"):
        return df.agg(F.sum("n_events")).first()[0] == n_rows
    if name == "daily_active_users":
        return df.agg(F.sum("n_events")).first()[0] == n_rows
    if name == "funnel_view_click_purchase":
        r = df.first()
        return r["n_view"] >= r["n_view_then_click"] >= r["n_full_funnel"] >= 0
    if name == "browser_wire_roundtrip":
        return df.count() == n_rows
    return df.count() > 0
