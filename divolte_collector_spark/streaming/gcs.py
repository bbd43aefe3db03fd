"""K2: the GCS compose-append sink lifecycle against an injectable
object store.

The reference cannot append to a GCS object, so it emulates appends
with the JSON API's ``compose`` operation
(GoogleCloudStorageFileManager.java:161-290):

- **create**: upload the Avro container HEADER as the inflight object.
- **append**: buffer records in memory (bounded by the sync interval).
- **sync**: upload the buffered records as ONE ``.part`` object (an
  Avro block under the header's sync marker), then
  ``compose([inflight, inflight.part]) -> inflight`` — the composed
  object is byte-concatenation, which is a valid Avro container
  because blocks are concatenation-appendable after the header.
  An empty buffer composes ``[inflight] -> destination`` (no-op self
  compose, used to copy to a new destination).
- **close-and-publish**: write the final part, compose to the PUBLISH
  object name, then delete the inflight and ``.part`` objects.
- **discard**: delete the inflight (and ``.part`` if one was written).

The store itself is injected (``upload/compose/delete/get/exists``):
the sandbox has no GCS credentials or SDK, so tests drive
:class:`FilesystemObjectStore` — a directory-backed store whose
``compose`` is file concatenation, the same byte semantics GCS
guarantees. A production store implements the same five calls against
the JSON API (upload ``POST .../o?uploadType=media``, compose
``POST .../o/<dest>/compose``, delete ``DELETE .../o/<name>``) with
retry, exactly as the reference's ``googlePost``/``googleDelete`` do.

Scale shape: one file object per (roll bucket, partition), the same
layout as the K1 HDFS sink — each executor partition streams its own
compose chain; nothing funnels through the driver.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from divolte_collector_spark.functions.avro_codec import (
    compile_encoder,
    container_header,
    default_sync_marker,
    encode_record,
    encoded_block,
)

PART_CLASSIFIER = ".part"


class FilesystemObjectStore:
    """Directory-backed object store with GCS-compose byte semantics
    (compose = concatenation of source objects, replacing the
    destination). The in-sandbox stand-in for the JSON-API store;
    object names may contain '/' (encoded into the file name, since a
    GCS bucket is flat)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name.replace("/", "%2F"))

    def upload(self, name: str, data: bytes) -> None:
        tmp = self._path(name) + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, self._path(name))

    def compose(self, sources: list[str], dest: str) -> None:
        # GCS compose is atomic object creation from up to 32 sources
        buf = b"".join(self.get(s) for s in sources)
        self.upload(dest, buf)

    def delete(self, name: str) -> None:
        try:
            os.unlink(self._path(name))
        except FileNotFoundError:
            pass  # best-effort, like the reference's googleDelete

    def get(self, name: str) -> bytes:
        with open(self._path(name), "rb") as fh:
            return fh.read()

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))

    def list(self, prefix: str = "") -> list[str]:
        # prefix mirrors GCS objects.list's native prefix param: the
        # janitor lists only the inflight prefix, so listing cost
        # follows the (small) inflight set, not the ever-growing
        # published history
        return sorted(
            name
            for n in os.listdir(self.root)
            if not n.endswith(".tmp")
            and (name := n.replace("%2F", "/")).startswith(prefix)
        )


class GcsAvroFile:
    """One inflight Avro container under the compose-append lifecycle
    (mirrors GoogleCloudStorageDivolteFile)."""

    def __init__(
        self,
        store,
        schema: dict,
        inflight_dir: str,
        publish_dir: str,
        name: str,
        inflight_suffix: str = "",
    ):
        self.store = store
        self.schema = schema
        self.sync = default_sync_marker(schema)
        # inflight_suffix makes the compose CHAIN attempt-unique: with
        # speculative execution two attempts of one task would
        # otherwise interleave header/part uploads on the same object
        # and corrupt the chain; the PUBLISH name stays stable, so the
        # last attempt to publish wins with a complete object
        self.inflight_name = f"{inflight_dir}/{name}{inflight_suffix}"
        self.part_name = self.inflight_name + PART_CLASSIFIER
        self.publish_name = f"{publish_dir}/{name}"
        # encoded records (compile_encoder output) awaiting the next sync
        self.buffer: list[pa.BinaryArray] = []
        self.buffered = 0
        self.part_written = False
        self.record_count = 0
        # the writer uploads the header immediately on create
        store.upload(self.inflight_name, container_header(schema, self.sync))

    def append(self, record: dict) -> None:
        """Buffer one plain-dict record."""
        record = encode_record(self.schema, record)
        self.append_encoded(pa.array([record], pa.binary()))

    def append_encoded(self, records: pa.BinaryArray) -> None:
        self.buffer.append(records)
        self.buffered += len(records)
        self.record_count += len(records)

    def _write_buffer_and_compose(self, dest: str) -> None:
        if self.buffered:
            self.store.upload(
                self.part_name,
                encoded_block(pa.concat_arrays(self.buffer), self.sync),
            )
            self.buffer = []
            self.buffered = 0
            self.part_written = True
            sources = [self.inflight_name, self.part_name]
        else:
            # nothing buffered: compose with itself, potentially to a
            # new destination
            sources = [self.inflight_name]
        self.store.compose(sources, dest)

    def sync_file(self) -> None:
        self._write_buffer_and_compose(self.inflight_name)

    def close_and_publish(self) -> None:
        self._write_buffer_and_compose(self.publish_name)
        self.store.delete(self.part_name)
        self.store.delete(self.inflight_name)

    def discard(self) -> None:
        if self.part_written:
            self.store.delete(self.part_name)
        self.store.delete(self.inflight_name)


def sweep_inflight(
    store,
    batch_tag: str,
    inflight_dir: str = "inflight",
    stale: bool = False,
) -> list[str]:
    """Janitor for orphaned inflight objects: an executor that dies
    without running the Python except handler (hard kill, OOM) leaves
    its attempt-unique ``.a<taskAttemptId>`` inflight/.part chain
    behind, and no later attempt ever reuses those names.

    Two modes. ``stale=False`` (post-batch): after a batch COMPLETES,
    every object under the prefix bearing THIS batch's tag is by
    construction an orphan — surviving attempts already published and
    deleted theirs. ``stale=True`` (pre-batch, stream-scoped prefix
    only): delete every object whose tag is NOT the current batch's —
    Structured Streaming runs a sink's batches sequentially, so
    anything from an earlier batch is dead, INCLUDING uploads that a
    zombie speculative attempt landed *after* its own batch's
    post-sweep ran (the race the post-sweep alone cannot close).

    Needs a listing call; a store without one (``list`` is not part of
    the minimal 5-call surface) skips the sweep, in which case a
    bucket lifecycle rule on the inflight prefix (age > max batch
    duration) is the production substitute. Listing is prefix-scoped
    when the store supports it (GCS objects.list does natively), so
    sweep cost follows the inflight set, not published history.
    Returns deleted names."""
    lister = getattr(store, "list", None)
    if lister is None:
        return []
    prefix = f"{inflight_dir}/"
    # feature-detect the prefix parameter by signature (never by
    # catching TypeError — that would swallow a genuine bug inside a
    # prefix-accepting implementation and silently double the I/O
    # with an unscoped second listing)
    import inspect

    # ... and only when the FIRST parameter can actually be passed
    # positionally: a ``list(**kwargs)`` or keyword-only signature has
    # parameters but would raise TypeError on ``lister(prefix)``,
    # crashing the sweep instead of falling back to unscoped listing
    try:
        params = list(inspect.signature(lister).parameters.values())
        takes_prefix = bool(params) and params[0].kind in (
            inspect.Parameter.POSITIONAL_ONLY,
            inspect.Parameter.POSITIONAL_OR_KEYWORD,
            inspect.Parameter.VAR_POSITIONAL,
        )
    except (TypeError, ValueError):
        takes_prefix = False
    names = (
        lister(prefix)
        if takes_prefix
        else [n for n in lister() if n.startswith(prefix)]
    )
    orphans = []
    for name in names:
        if not name.startswith(prefix):
            continue
        tag = _name_batch_tag(name)
        if tag is None:
            continue  # not a roll-file name: never touched by sweeps
        if (tag != batch_tag) == stale:
            orphans.append(name)
    for name in orphans:
        store.delete(name)
    return orphans


def _name_batch_tag(name: str) -> str | None:
    """Extract the batch tag from a roll-file object name —
    ``.../<roll>-divolte-tracking-<host>-<tag>-<pid>.avro[.a<id>][.part]``
    (``roll_file_name`` + the attempt/part suffixes). Parsed from the
    RIGHT so a host string containing ``-<digits>-`` can never be
    mistaken for the tag (a bare substring match would); None for
    names that don't follow the contract (left alone by sweeps)."""
    base = name.rsplit("/", 1)[-1]
    if base.endswith(PART_CLASSIFIER):
        base = base[: -len(PART_CLASSIFIER)]
    stem, dot, suffix = base.rpartition(".avro")
    if not dot and not stem:
        return None
    pieces = stem.rsplit("-", 2)
    return pieces[1] if len(pieces) == 3 else None


def gcs_write_avro_files(
    batch_df: DataFrame,
    schema: dict,
    store_factory: Callable[[], object],
    batch_tag: str,
    inflight_dir: str = "inflight",
    publish_dir: str = "published",
    roll_column: str = "client_time",
    host_string: str = "spark",
    sync_every: int = 1000,
) -> list[tuple[str, int]]:
    """Distributed K2 write: one compose-chained container per
    (roll bucket, partition), reference naming, empties discarded —
    the GCS twin of ``write_avro_files``. The store factory runs once
    per executor partition (HTTP clients don't serialize)."""
    from divolte_collector_spark.streaming.sinks import (
        MANIFEST,
        roll_file_name,
        roll_runs,
    )

    bucketed = batch_df.withColumn(
        "_roll", F.date_format(F.col(roll_column), "yyyyMMddHHmmss")
    )

    def write_partition(iterator: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        attempt = f".a{ctx.taskAttemptId()}" if ctx else ""
        store = store_factory()
        encode = compile_encoder(schema)
        files: dict[str, GcsAvroFile] = {}
        try:
            for batch in iterator:
                for roll, records in roll_runs(batch, encode(batch)):
                    if roll not in files:
                        name = roll_file_name(roll, host_string, batch_tag, pid)
                        files[roll] = GcsAvroFile(
                            store, schema, inflight_dir, publish_dir, name,
                            inflight_suffix=attempt,
                        )
                    f = files[roll]
                    # every part holds exactly sync_every records
                    while len(records):
                        room = max(sync_every - f.buffered, 1)
                        f.append_encoded(records.slice(0, room))
                        records = records.slice(room)
                        if f.buffered >= sync_every:
                            f.sync_file()
            names, counts = [], []
            for f in files.values():
                if f.record_count:
                    f.close_and_publish()
                    names.append(f.publish_name)
                    counts.append(f.record_count)
                else:
                    f.discard()  # empties are never published
        except Exception:
            for f in files.values():
                f.discard()
            raise
        yield pa.RecordBatch.from_pydict({"file": names, "n": counts}, schema=MANIFEST)

    manifest = (
        bucketed.repartition("_roll")
        .mapInArrow(write_partition, "file string, n long")
        .collect()
    )
    # batch is complete: sweep inflight chains abandoned by
    # hard-killed attempts (driver-side, one listing call)
    sweep_inflight(store_factory(), batch_tag, inflight_dir)
    return [(r["file"], r["n"]) for r in manifest]


def _stream_inflight_prefix(checkpoint: str) -> str:
    """The logical stream's private inflight prefix. Derived from the
    CHECKPOINT path (stable across restarts, unique per stream), and
    a SIBLING of the default ``inflight`` dir — NOT nested under it —
    so a bare ``gcs_write_avro_files`` caller sweeping ``inflight/``
    can never list (and on a batch-tag collision delete) a live
    stream's chain in a shared bucket."""
    import hashlib

    return "inflight-" + hashlib.sha1(
        checkpoint.encode("utf-8")
    ).hexdigest()[:12]


def gcs_avro_sink(
    df: DataFrame,
    schema: dict,
    store_factory: Callable[[], object],
    checkpoint: str,
    roll_column: str = "client_time",
    sync_every: int = 1000,
):
    """K2 as a streaming writer: foreachBatch over
    :func:`gcs_write_avro_files`.

    Each logical stream gets its OWN inflight prefix
    (``inflight-<stream id>``, a sibling of — never nested under —
    the default ``inflight`` dir): the pre-batch stale sweep can then
    safely delete every leftover from this stream's earlier batches —
    closing the zombie-attempt race where a killed speculative task's
    upload lands after its batch's post-sweep already ran — without
    ever touching another stream's live inflight chains in a shared
    bucket. The id derives from the CHECKPOINT path, not a random
    uuid: the checkpoint names the logical stream stably across
    restarts, so a restarted query sweeps the previous run's
    leftovers instead of orphaning the old prefix forever. Published
    names are unaffected."""
    stream_inflight = _stream_inflight_prefix(checkpoint)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sweep_inflight(
            store_factory(), str(batch_id), stream_inflight, stale=True
        )
        gcs_write_avro_files(
            batch_df, schema, store_factory, batch_tag=str(batch_id),
            inflight_dir=stream_inflight,
            roll_column=roll_column, sync_every=sync_every,
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
