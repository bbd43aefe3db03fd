"""Keyed streaming upsert sink: latest-row-per-key tables via
foreachBatch merge.

The deployment shape the Avro/Kafka sinks don't cover: a continuously
maintained *table* (current session state per party, latest profile
per user) rather than an append log. Each micro-batch merges into a
parquet table by key:

    merged = latest row per key over (existing ∪ batch),
             ordered by (order_col, tiebreak)

Three properties carry the design:

- **Idempotent replay.** foreachBatch can re-deliver a batch after a
  failure; "latest per key by a deterministic order" is a set
  operation, so re-merging the same rows yields the identical table —
  exactly-once table state without a transaction log.
- **Atomic publish.** Every merge writes a fresh versioned directory
  (``_v<batch_id>``) and then atomically rewrites the ``_CURRENT``
  pointer file; readers resolve the pointer, so they never observe a
  half-written table. Superseded versions are pruned after the pointer
  moves.
- **Partition-touch merging.** With a ``partition_col`` the merge
  reads and rewrites ONLY the partitions present in the incoming
  batch; untouched partitions are carried by reference (their files
  are linked into the new version, not rewritten). At 100 TB a
  micro-batch touches a handful of recent day-partitions, so merge
  cost tracks batch size, not table size — the same reasoning as
  Delta/Iceberg's rewrite-touched-files, without the format
  dependency.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_CURRENT = "_CURRENT"


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, f"_v{version}")


def _read_pointer(path: str) -> tuple[int, int] | None:
    """(version, applied_batch_watermark) from the pointer file.

    The two counters are distinct on purpose: the VERSION increments on
    every publish (merges AND erasures), while the WATERMARK tracks the
    highest merged batch id for replay idempotency. Conflating them
    (version = batch_id) silently drops the first merge after an
    erasure, because the erasure's version bump looks like a
    further-ahead batch."""
    try:
        with open(os.path.join(path, _CURRENT)) as fh:
            parts = fh.read().split()
            return int(parts[0]), int(parts[1])
    except (FileNotFoundError, ValueError, IndexError):
        # IndexError: a zero-length pointer (crash between replace and
        # data hitting disk) must read as "no published version", not
        # wedge every future merge
        return None


def _publish(
    path: str, version: int, watermark: int, retain_previous: bool = True
) -> None:
    tmp = os.path.join(path, _CURRENT + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(f"{version} {watermark}")
        fh.flush()
        os.fsync(fh.fileno())  # the rename must never outrun the data
    os.replace(tmp, os.path.join(path, _CURRENT))
    # Retain the immediately previous version as a read grace window: a
    # reader that resolved the pointer just before this flip may still be
    # scanning _v{version-1}; deleting it mid-scan would fail that read.
    # Only versions two or more flips old are pruned. Erasures pass
    # retain_previous=False: compliance requires the subject's files
    # gone NOW, which outranks the in-flight-reader grace.
    keep = {f"_v{version}"}
    if retain_previous:
        keep.add(f"_v{version - 1}")
    for entry in os.listdir(path):
        if entry.startswith("_v") and entry not in keep:
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


def current_version(path: str) -> int | None:
    ptr = _read_pointer(path)
    return None if ptr is None else ptr[0]


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _part_dir_name(partition_col: str, value) -> str:
    """The directory name Spark writes for a partition value — null
    values land in ``__HIVE_DEFAULT_PARTITION__``, not ``None``."""
    return f"{partition_col}={_HIVE_NULL if value is None else value}"


def _touched_predicate(partition_col: str, touched: list):
    """Column predicate matching the touched partitions, null-correct:
    ``isin`` never matches null rows, so a None in ``touched`` needs an
    explicit ``isNull`` arm."""
    non_null = [t for t in touched if t is not None]
    pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if any(t is None for t in touched):
        pred = pred | F.col(partition_col).isNull()
    return pred


def _carry_partitions(
    prev_dir: str, new_dir: str, partition_col: str, touched: list
) -> None:
    """Hardlink untouched partition directories into the new version
    (falls back to copying when the filesystem refuses cross-links)."""
    touched_dirs = {_part_dir_name(partition_col, t) for t in touched}
    for entry in os.listdir(prev_dir):
        if entry.startswith(f"{partition_col}=") and entry not in touched_dirs:
            try:
                shutil.copytree(
                    os.path.join(prev_dir, entry),
                    os.path.join(new_dir, entry),
                    copy_function=os.link,
                )
            except OSError:
                shutil.copytree(
                    os.path.join(prev_dir, entry),
                    os.path.join(new_dir, entry),
                    dirs_exist_ok=True,
                )


def read_upsert_table(spark: SparkSession, path: str) -> DataFrame:
    """The table as of the last atomically published merge."""
    v = current_version(path)
    if v is None:
        raise FileNotFoundError(f"no published version under {path}")
    return spark.read.parquet(_version_dir(path, v))


def _latest_per_key(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak: str
) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), F.desc(tiebreak)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    key_cols: list[str],
    order_col: str,
    tiebreak: str,
    partition_col: str | None = None,
    static_partitions: bool = False,
) -> None:
    """Merge one micro-batch into the keyed table at ``path``.

    ``static_partitions=True`` asserts that ``partition_col`` is a
    deterministic function of ``key_cols`` (e.g. ``hash(key) % N`` or a
    stable signup-date attribute), letting the merge skip the
    moved-key lookup and read ONLY the partitions named in the batch —
    the zero-table-scan fast path. The default (False) is correct for
    any partitioning (e.g. last-activity date, which MOVES as a key
    updates): it semi-joins the existing table against the batch's keys
    to also rewrite partitions holding a moved key's stale row."""
    os.makedirs(path, exist_ok=True)
    ptr = _read_pointer(path)
    if ptr is not None and ptr[1] >= batch_id:
        return  # replayed batch already merged: idempotent skip
    prev = None if ptr is None else ptr[0]
    new_version = 0 if ptr is None else ptr[0] + 1
    new_dir = _version_dir(path, new_version)
    shutil.rmtree(new_dir, ignore_errors=True)  # crashed earlier attempt

    if prev is None:
        merged = _latest_per_key(batch_df, key_cols, order_col, tiebreak)
        writer = merged.write.mode("overwrite")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(new_dir)
    elif partition_col is None:
        existing = spark.read.parquet(_version_dir(path, prev))
        merged = _latest_per_key(
            existing.unionByName(batch_df), key_cols, order_col, tiebreak
        )
        merged.write.mode("overwrite").parquet(new_dir)
    else:
        # touched partitions merge; untouched ones carry by reference
        touched = [
            r[0]
            for r in batch_df.select(partition_col).distinct().collect()
        ]
        prev_dir = _version_dir(path, prev)
        existing = spark.read.parquet(prev_dir)
        if not static_partitions:
            # A key's latest row may land in a DIFFERENT partition than
            # its existing row; the stale row in the untouched partition
            # would otherwise survive the merge and break latest-per-key.
            # Find every partition holding one of the batch's keys via a
            # semi-join (shuffles only the key columns of the table; the
            # partition-pruned fast path below skips this scan entirely
            # when partition_col is a function of the key).
            # null-safe key equality: `on=key_cols` never matches a
            # NULL key, so a null-keyed row's old partition would be
            # missed and its stale row would survive
            bk = batch_df.select(*key_cols).distinct().alias("_bk")
            ex = existing.alias("_ex")
            cond = None
            for k in key_cols:
                c = F.col(f"_ex.{k}").eqNullSafe(F.col(f"_bk.{k}"))
                cond = c if cond is None else (cond & c)
            moved = (
                ex.join(bk, cond, "left_semi")
                .select(partition_col)
                .distinct()
                .collect()
            )
            seen = {t for t in touched}
            touched += [r[0] for r in moved if r[0] not in seen]
        merged = _latest_per_key(
            existing.filter(
                _touched_predicate(partition_col, touched)
            ).unionByName(batch_df),
            key_cols, order_col, tiebreak,
        )
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(
            new_dir
        )
        _carry_partitions(prev_dir, new_dir, partition_col, touched)

    # atomic pointer flip, then prune superseded versions
    _publish(path, new_version, batch_id)


def upsert_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    order_col: str,
    tiebreak: str,
    partition_col: str | None = None,
    static_partitions: bool = False,
):
    """Attach the upsert merge as a foreachBatch sink; returns the
    DataStreamWriter (caller picks the trigger and starts it)."""
    spark = stream_df.sparkSession

    def do_merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch(
            spark, batch_df, batch_id, path, key_cols, order_col, tiebreak,
            partition_col, static_partitions,
        )

    return (
        stream_df.writeStream.foreachBatch(do_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def erase_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    values: "list | DataFrame",
    partition_col: str | None = None,
) -> None:
    """Right-to-be-forgotten over the versioned keyed table: delete
    every row whose ``key_col`` is in ``values`` and publish the new
    version atomically (same pointer flip as the upsert merge, so
    readers see either the pre- or post-erasure table, never a mix).

    ``values`` is either a small in-memory list (an ad-hoc GDPR ticket)
    or a single-column DataFrame of subject keys — the scale path:
    the subject relation never passes through the driver; deletion is
    a distributed anti-join (null keys survive either way: a null
    never equi-matches a subject row).

    With a ``partition_col`` only partitions that actually contain the
    targeted keys are rewritten; untouched partitions carry into the
    new version by hardlink — at 100 TB an erasure request touches the
    handful of partitions holding that party's rows (the
    party-clustered layout keeps them few), so deletion cost tracks
    the subject's data, not the table. The erased version is a fresh
    directory: once the old version is pruned, no file containing the
    subject's rows remains (parquet has no in-place delete —
    rewrite-and-retire IS the compliant primitive).
    """
    ptr = _read_pointer(path)
    if ptr is None:
        raise FileNotFoundError(f"no published version under {path}")
    prev, watermark = ptr
    prev_dir = _version_dir(path, prev)
    new_version = prev + 1
    new_dir = _version_dir(path, new_version)
    shutil.rmtree(new_dir, ignore_errors=True)

    existing = spark.read.parquet(prev_dir)
    if isinstance(values, DataFrame):
        subjects = values.select(F.col(values.columns[0]).alias(key_col))

        def _kept(df):
            # left_anti keeps non-matches; a NULL key never equi-
            # matches, so null-keyed rows survive — same semantics as
            # the list path's explicit isNull() escape
            return df.join(subjects, key_col, "left_anti")

        def _targeted(df):
            return df.join(subjects, key_col, "left_semi")

    else:
        # NOT IN is null-hostile: a null key must survive the erasure,
        # not vanish with the targets
        keep = ~F.col(key_col).isin(values) | F.col(key_col).isNull()

        def _kept(df):
            return df.filter(keep)

        def _targeted(df):
            return df.filter(F.col(key_col).isin(values))

    if partition_col is None:
        _kept(existing).write.mode("overwrite").parquet(new_dir)
    else:
        # partition values touched by the subjects: bounded by the
        # partition count (days), never by the subject count
        touched = [
            r[0]
            for r in _targeted(existing)
            .select(partition_col)
            .distinct()
            .collect()
        ]
        (
            _kept(existing.filter(_touched_predicate(partition_col, touched)))
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(new_dir)
        )
        _carry_partitions(prev_dir, new_dir, partition_col, touched)

    # erasure bumps the version but not the batch watermark: the next
    # micro-batch must still merge, not be mistaken for a replay.
    # retain_previous=False: every pre-erasure version holds the
    # subject's rows and must be retired immediately.
    _publish(path, new_version, watermark, retain_previous=False)
