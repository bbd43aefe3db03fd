"""Custom Python data source: wire-request logs -> decoded events."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from divolte_collector_spark.sources.browser import parse_browser_events
from divolte_collector_spark.sources.wirelog import WireLogDataSource

_QS = (
    "p=0%3Ai1t84hgy%3Aparty&s=0%3Ai1t84hgy%3Asession&v=pv0&e=ev{n}&"
    "c=i0rjfnxd&n=t&f=t&l=http%3A%2F%2Fexample.com%2Fhome&t=pageView"
)


@pytest.fixture()
def log_dir(spark):
    d = tempfile.mkdtemp(prefix="dvs_wirelog_")
    lines1 = [
        f'2024-01-02T03:04:05 10.0.0.1 "GET /csc-event?{_QS.format(n=0)} HTTP/1.1" "AgentA/1.0"',
        "this line is garbage",
    ]
    lines2 = [
        f'2024-01-02T03:05:06+02:00 10.0.0.2 "GET /csc-event?{_QS.format(n=1)} HTTP/1.1" "AgentB/2.0"',
        f'2024-01-02T03:06:07 10.0.0.3 "GET /healthz HTTP/1.1" "probe"',
    ]
    for name, lines in (("a.log", lines1), ("b.log", lines2)):
        with open(f"{d}/{name}", "w") as fh:
            fh.write("\n".join(lines) + "\n")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_wirelog_reads_and_decodes(spark, log_dir):
    spark.dataSource.register(WireLogDataSource)
    raw = spark.read.format("divolte-wirelog").load(log_dir)
    rows = {r.remote_host: r for r in raw.collect()}
    assert len(rows) == 4  # 3 parsed + 1 garbage row (null fields)
    assert rows["10.0.0.1"].user_agent == "AgentA/1.0"
    assert rows["10.0.0.1"].path == "/csc-event"
    # timezone offsets normalize to UTC wall time
    assert rows["10.0.0.2"].request_time.hour == 1
    assert rows[None].raw_line == "this line is garbage"

    # one partition per file: two files -> two input partitions
    assert raw.rdd.getNumPartitions() == 2

    # the event-suffix route filter + decode: garbage and /healthz drop
    events = parse_browser_events(
        raw.filter(F.col("path") == "/csc-event")
    )
    out = {r.event_id: r for r in events.collect()}
    assert set(out) == {"ev0", "ev1"}
    assert out["ev0"].party_id == "0:i1t84hgy:party"
    assert out["ev1"].user_agent == "AgentB/2.0"  # transport col kept


def test_wirelog_streaming_tails_growing_logs(spark, log_dir):
    """Streaming reader: two micro-batches over a growing log file —
    offsets advance by byte position, appended lines arrive once."""
    import tempfile

    spark.dataSource.register(WireLogDataSource)
    ckpt = tempfile.mkdtemp(prefix="dvs_wl_ckpt_")
    out = tempfile.mkdtemp(prefix="dvs_wl_out_")
    try:
        def run():
            stream = spark.readStream.format("divolte-wirelog").load(log_dir)
            q = (
                stream.filter(F.col("path") == "/csc-event")
                .select("remote_host", "query_string")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        run()
        first = {r.remote_host for r in spark.read.parquet(out).collect()}
        assert first == {"10.0.0.1", "10.0.0.2"}

        # append a new request to an existing file; restart from ckpt
        with open(f"{log_dir}/a.log", "a") as fh:
            fh.write(
                f'2024-01-02T04:00:00 10.0.0.9 "GET /csc-event?{_QS.format(n=9)} HTTP/1.1" "AgentC/3.0"\n'
            )
        run()
        rows = [r.remote_host for r in spark.read.parquet(out).collect()]
        # exactly-once: old lines not re-emitted, the new line once
        assert sorted(rows) == ["10.0.0.1", "10.0.0.2", "10.0.0.9"]
    finally:
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_stream_offsets_are_exact_bytes_for_crlf_and_bad_utf8(log_dir):
    """Raw-byte offset contract (no Spark needed — unit-level reader):
    CRLF newlines and non-UTF-8 bytes must not drift the stored offset
    off the true file position, or the next batch seeks mid-line."""
    import os

    from divolte_collector_spark.sources.wirelog import _WireLogStreamReader

    path = f"{log_dir}/crlf.log"
    line1 = f'2024-01-02T05:00:00 10.1.0.1 "GET /csc-event?{_QS.format(n=7)} HTTP/1.1" "AgentD/1.0"'
    with open(path, "wb") as fh:
        fh.write(line1.encode() + b"\r\n")
        fh.write(b"garbage \xff\xfe bytes\r\n")  # not valid UTF-8

    reader = _WireLogStreamReader({"path": path})
    rows, end = reader.read(reader.initialOffset())
    rows = list(rows)
    assert end[path] == os.path.getsize(path)  # exact raw byte offset
    assert [r[1] for r in rows] == ["10.1.0.1", None]
    assert "garbage" in rows[1][5] and "�" in rows[1][5]

    # append after the bad bytes; the next batch must pick up ONLY the
    # new line (a drifted offset would re-read or split a line)
    line3 = f'2024-01-02T05:01:00 10.1.0.2 "GET /csc-event?{_QS.format(n=8)} HTTP/1.1" "AgentE/1.0"'
    with open(path, "ab") as fh:
        fh.write(line3.encode() + b"\r\n")
    rows2, end2 = reader.read(end)
    rows2 = list(rows2)
    assert [r[1] for r in rows2] == ["10.1.0.2"]
    assert end2[path] == os.path.getsize(path)

    # replay between offsets (binary) must agree with the live read
    replay = list(reader.readBetweenOffsets(end, end2))
    assert replay == rows2


def test_stream_recovers_from_in_place_truncation(log_dir):
    # REGRESSION: after logrotate copytruncate, the stored offset
    # exceeded the file size; the reader skipped the file until it
    # regrew past the stale offset and then resumed MID-FILE, silently
    # losing everything before it. A shrunken file now restarts at 0.
    import os

    from divolte_collector_spark.sources.wirelog import _WireLogStreamReader

    f = os.path.join(log_dir, "rotate.log")
    line = (
        f'2024-01-02T05:00:00 10.9.0.1 "GET /csc-event?{_QS.format(n=1)} '
        f'HTTP/1.1" "AgentR/1.0"'
    ).encode() + b"\n"
    with open(f, "wb") as fh:
        fh.write(line * 3)
    reader = _WireLogStreamReader({"path": f})
    rows, off1 = reader.read(reader.initialOffset())
    assert len(list(rows)) == 3
    # copytruncate: file restarts smaller than the stored offset
    with open(f, "wb") as fh:
        fh.write(line * 2)
    rows, off2 = reader.read(off1)
    assert len(list(rows)) == 2  # post-rotation lines ingested, from 0
    assert off2[f] == 2 * len(line)


def test_batch_reader_matches_chunk_parse(tmp_path):
    """The batch reader streams its file line by line and parses exactly
    what ``_parse_raw_lines`` parses from the whole file: CRLF, a bare
    ``\\r`` inside a line, invalid UTF-8, blank lines and no final
    newline."""
    from divolte_collector_spark.sources.wirelog import (
        _FilePartition,
        _parse_raw_lines,
        _WireLogReader,
    )

    good = f'2024-01-02T05:00:00 10.1.0.1 "GET /csc-event?{_QS.format(n=1)} HTTP/1.1" "A"'
    data = b"".join([
        good.encode() + b"\r\n",
        b"\n",
        b"   \r\n",
        b"left\rright " + good.encode() + b"\n",
        b"bad \xff\xfe utf8 \xc3\n",
        good.replace("10.1.0.1", "10.1.0.2").encode() + b"\r\r\n",
        b"\r\n",
        good.replace("10.1.0.1", "10.1.0.3").encode(),  # no final newline
    ])
    path = tmp_path / "mixed.log"
    path.write_bytes(data)

    rows = list(_WireLogReader({"path": str(path)}).read(_FilePartition(str(path))))
    assert rows == _parse_raw_lines(data)
    assert [r[1] for r in rows] == ["10.1.0.1", None, None, "10.1.0.2", "10.1.0.3"]
