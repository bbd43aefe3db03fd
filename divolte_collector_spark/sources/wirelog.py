"""Custom Python data source for raw wire-request logs.

The reference's transport is an embedded HTTP server; the durable
artifact a Spark deployment actually ingests is the ACCESS LOG of
those requests. This module registers ``divolte-wirelog`` — a Spark 4
Python DataSource — so a directory of request logs is a first-class
relation:

    spark.dataSource.register(WireLogDataSource)
    raw = spark.read.format("divolte-wirelog").load("/var/log/divolte")
    events = parse_browser_events(raw)

Log line grammar (one request per line, combined-log flavored)::

    <iso8601> <remote_host> "GET <path>?<query> HTTP/1.1" "<user_agent>"

Lines that don't parse yield a row with null fields (never an error) —
the decode layer's required-param rules then drop them, mirroring the
reference's tolerance for garbage requests.

Scale shape: ``partitions()`` returns one partition per log file, so a
directory of N files reads as N parallel tasks (the same parallelism
contract as the built-in text source); each task streams its file
line-by-line — no whole-file buffering.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql import types as T

_LINE_RE = re.compile(
    r'^(?P<ts>\S+) (?P<host>\S+) "GET (?P<path>[^?" ]+)(?:\?(?P<qs>[^" ]*))? '
    r'HTTP/[0-9.]+" "(?P<ua>[^"]*)"$'
)

SCHEMA = T.StructType(
    [
        T.StructField("request_time", T.TimestampType()),
        T.StructField("remote_host", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("query_string", T.StringType()),
        T.StructField("user_agent", T.StringType()),
        T.StructField("raw_line", T.StringType()),
    ]
)


def parse_line(line: str):
    """One log line -> (request_time, host, path, qs, ua, raw)."""
    m = _LINE_RE.match(line.rstrip("\n"))
    if not m:
        return (None, None, None, None, None, line.rstrip("\n"))
    try:
        ts = datetime.fromisoformat(m.group("ts"))
        if ts.tzinfo is not None:
            ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    except ValueError:
        ts = None
    return (
        ts,
        m.group("host"),
        m.group("path"),
        m.group("qs"),
        m.group("ua"),
        line.rstrip("\n"),
    )


def _parse_raw_line(raw: bytes):
    """One raw line (no b'\\n') -> parsed row, or None when blank.
    Decodes on its own (errors='replace'), so a bad byte corrupts only
    its line, and strips a trailing '\\r' so CRLF logs parse
    identically to LF logs."""
    line = raw.decode(errors="replace").rstrip("\r")
    return parse_line(line) if line.strip() else None


def _parse_raw_lines(chunk: bytes):
    """Split a raw byte chunk on b'\\n' and parse each line, so the
    byte-offset arithmetic stays exact."""
    rows = []
    for raw in chunk.split(b"\n"):
        row = _parse_raw_line(raw)
        if row is not None:
            rows.append(row)
    return rows


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _WireLogReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("divolte-wirelog requires a path")

    def partitions(self):
        import glob
        import os

        if os.path.isdir(self.path):
            files = sorted(
                f
                for f in glob.glob(os.path.join(self.path, "**", "*"), recursive=True)
                if os.path.isfile(f)
            )
        else:
            files = sorted(glob.glob(self.path))
        if not files:
            raise FileNotFoundError(f"no wire log files under {self.path}")
        return [_FilePartition(f) for f in files]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        # binary + per-line decode: identical parse to the streaming
        # tail, so batch backfill and live tail agree byte-for-byte;
        # binary iteration splits on b"\n" only, as the tail does
        with open(partition.path, "rb") as fh:
            for raw in fh:
                row = _parse_raw_line(raw[:-1] if raw.endswith(b"\n") else raw)
                if row is not None:
                    yield row


class WireLogDataSource(DataSource):
    """``spark.read.format("divolte-wirelog").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "divolte-wirelog"

    def schema(self):
        return SCHEMA

    def reader(self, schema) -> _WireLogReader:
        return _WireLogReader(self.options)

    def simpleStreamReader(self, schema) -> "_WireLogStreamReader":
        return _WireLogStreamReader(self.options)


class _WireLogStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail of a wire-log directory.

    Offsets are ``{file_path: byte_position}`` — reads pick up every
    file's NEW bytes since the last offset (complete lines only; a
    partial trailing line waits for the next micro-batch), and newly
    appearing files start from zero. Exactly-once falls out of the
    offset log: replaying a batch re-reads the same byte ranges.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("divolte-wirelog requires a path")

    def _files(self):
        import glob
        import os

        if os.path.isdir(self.path):
            return sorted(
                f
                for f in glob.glob(os.path.join(self.path, "**", "*"), recursive=True)
                if os.path.isfile(f)
            )
        return sorted(glob.glob(self.path))

    def initialOffset(self) -> dict:
        return {}

    def read(self, start: dict):
        import os

        end = dict(start)
        rows = []
        for f in self._files():
            pos = int(start.get(f, 0))
            size = os.path.getsize(f)
            if size < pos:
                # the file SHRANK below the stored offset: truncated or
                # rotated in place (logrotate copytruncate). The content
                # is new — restart from 0 rather than skipping forever
                # and then resuming mid-file at a stale byte position.
                pos = 0
                end[f] = 0
            if size <= pos:
                continue
            # binary read: offsets are RAW byte positions. A text-mode
            # read would mis-count CRLF (translated to 1 char) and
            # non-UTF-8 bytes (replaced by 3-byte U+FFFD), drifting the
            # stored offset off the true file position.
            with open(f, "rb") as fh:
                fh.seek(pos)
                chunk = fh.read(size - pos)
            # complete lines only; the remainder re-reads next batch
            last_nl = chunk.rfind(b"\n")
            if last_nl < 0:
                continue
            complete = chunk[: last_nl + 1]
            rows.extend(_parse_raw_lines(complete))
            end[f] = pos + len(complete)
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = []
        for f, epos in end.items():
            pos = int(start.get(f, 0))
            epos = int(epos)
            if epos <= pos:
                continue
            with open(f, "rb") as fh:
                fh.seek(pos)
                chunk = fh.read(epos - pos)
            rows.extend(_parse_raw_lines(chunk))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass
