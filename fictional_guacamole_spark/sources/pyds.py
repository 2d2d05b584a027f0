"""A custom Spark 4 Python DataSource over WebDataset-style tar shards.

PySpark 4's Python DataSource API (`pyspark.sql.datasource`, SPARK-44076)
is the sanctioned extension point for formats Spark has no native reader
for — the successor to wrapping everything in `binaryFile` + mapInPandas.
This source exposes the tar-shard layout written by
:mod:`fictional_guacamole_spark.sources.tar_shards` as a real
``spark.read.format("fg_tarshard")`` relation:

- ``partitions()`` (driver side) lists shard files and emits ONE
  InputPartition per shard — the reader's parallelism is the shard
  count, exactly like WebDataset's own loaders, and Spark schedules
  each shard to an executor as an independent task.
- ``read(partition)`` (executor side) streams members out of its one
  tar via stdlib tarfile, yielding plain tuples.

Scale notes: at 100 TB the shard paths must be on shared storage (the
API hands each executor only the path string); shard size is the task
memory bound. Local-mode tests exercise the identical code path.

Reference parity note: the reference app (real_guac.py / polo_ws.py)
reads websockets and SQLite only; this is part of the engine's
training-data source surface.
"""

from __future__ import annotations

import io
import os
import tarfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

TAR_MEMBER_SCHEMA = "member_id long, n_bytes long, text string"


def _register_by_value(spark: SparkSession, cls) -> None:
    """Register a DataSource class pickled BY VALUE, not by module
    reference. The engine unpickles DataSources in python workers that
    the driver spawns — and the STREAMING source runner
    (python_streaming_source_runner) is a driver-side process that does
    NOT inherit the addPyFile zip batch executors get, so a by-reference
    pickle dies with ModuleNotFoundError whenever the driver's cwd isn't
    the repo (exactly how the round driver runs us; caught by the
    bare-session /verify recipe). cloudpickle's documented fix:
    register the class's module for by-value pickling so the class
    definitions travel inside the pickle itself."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[cls.__module__])
    spark.dataSource.register(cls)


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class TarShardReader(DataSourceReader):
    def __init__(self, options):
        self.base = options["path"]

    def partitions(self):  # driver side: one task per shard
        import glob

        paths = sorted(glob.glob(os.path.join(self.base, "*.tar")))
        if not paths:
            raise FileNotFoundError(f"no *.tar shards under {self.base}")
        return [_ShardPartition(p) for p in paths]

    def read(self, partition: _ShardPartition) -> Iterator[tuple]:
        # executor side: stream one shard's members
        with open(partition.path, "rb") as fh:
            data = fh.read()
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
            for info in tf:
                blob = tf.extractfile(info).read()
                yield (int(info.name.split(".")[0]), len(blob),
                       blob.decode("utf-8"))


class TarShardDataSource(DataSource):
    """``spark.read.format("fg_tarshard").option("path", dir).load()``
    and, for (member_id, text) frames,
    ``df.write.format("fg_tarshard").option("path", dir).save()``."""

    @classmethod
    def name(cls) -> str:
        return "fg_tarshard"

    def schema(self) -> str:
        return TAR_MEMBER_SCHEMA

    def reader(self, schema) -> TarShardReader:
        return TarShardReader(self.options)

    def writer(self, schema, overwrite: bool) -> "TarShardWriter":
        names = [f.name for f in schema.fields]
        if names != ["member_id", "text"]:
            raise ValueError("fg_tarshard writer expects (member_id, "
                             f"text), got {names}")
        return TarShardWriter(self.options, overwrite)


def read_tar_shards_pyds(spark: SparkSession, base: str) -> DataFrame:
    """Register (idempotently) and read the tar shards through the
    Python DataSource API — one Spark task per shard."""
    _register_by_value(spark, TarShardDataSource)
    return spark.read.format("fg_tarshard").option("path", base).load()


# --- the STREAMING half: a custom Python DataSourceStreamReader ------------
#
# Spark 4's Python DataSource API also covers streaming sources
# (DataSourceStreamReader): the source owns its offset space (JSON dicts),
# the engine checkpoints the offsets, and partitions(start, end) plans
# each micro-batch. This reader replays the tar shards ONE SHARD PER
# MICRO-BATCH (latestOffset advances by one shard per poll — the same
# rate-limiting idea as maxFilesPerTrigger), so a drain is guaranteed to
# cross >= n_shards triggers and the engine's incremental state machinery
# is genuinely exercised. Offsets are {"shard": <next index>}; replay
# from a checkpointed offset re-reads exactly the uncommitted shards —
# the source-side half of exactly-once.


class TarShardStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        import glob

        self.base = options["path"]
        self.paths = sorted(glob.glob(os.path.join(self.base, "*.tar")))
        if not self.paths:
            raise FileNotFoundError(f"no *.tar shards under {self.base}")

    def initialOffset(self) -> dict:
        return {"shard": 0}

    def latestOffset(self) -> dict:
        # One shard per micro-batch until the directory is drained.
        # ``_polled`` is in-memory only, so after a restart-from-checkpoint
        # it re-starts at 0 while the engine's committed start offset may
        # already be ahead. ``_floor`` records the highest offset the
        # engine has shown us (batch starts in partitions(), committed
        # ends in commit()) and the poll paces ONE PAST the floor — so a
        # recovered reader resumes one-shard-per-batch from wherever the
        # engine proves it already is (r11 advisor).
        #
        # A virgin instance has no floor yet, and the engine polls
        # latestOffset() BEFORE initialOffset() even on a genuinely fresh
        # query (measured — an earlier revision keyed recovery off that
        # ordering and broke fresh-start pacing into one directory-sized
        # batch). So the first poll always answers {"shard": 1}; on a
        # CLEAN-shutdown recovery (committed K > 1, no uncommitted batch
        # to re-plan) the engine may then plan a batch around the stale
        # answer — partitions() both TEACHES us K (its start) and slices
        # from max(start, floor), so no committed shard is ever re-read;
        # the poll after that resumes pacing at K+1 (r12 advisor,
        # re-designed after the ordering heuristic was disproved).
        if not hasattr(self, "_polled"):
            self._polled = 0
        base = max(self._polled, getattr(self, "_floor", 0))
        self._polled = min(base + 1, len(self.paths))
        return {"shard": self._polled}

    def partitions(self, start: dict, end: dict):
        self._floor = max(getattr(self, "_floor", 0), start["shard"])
        # never re-read below the committed floor, and never slice a
        # backwards range, even when a stale (pre-recovery) latestOffset
        # answer reached the engine's log
        lo = max(start["shard"], self._floor)
        return [_ShardPartition(p)
                for p in self.paths[lo:max(lo, end["shard"])]]

    def read(self, partition: _ShardPartition) -> Iterator[tuple]:
        with open(partition.path, "rb") as fh:
            data = fh.read()
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
            for info in tf:
                blob = tf.extractfile(info).read()
                yield (int(info.name.split(".")[0]), len(blob),
                       blob.decode("utf-8"))

    def commit(self, end: dict) -> None:
        # shards are immutable files; nothing to release — but remember
        # the committed watermark so a restarted reader's latestOffset
        # can never fall behind it
        self._floor = max(getattr(self, "_floor", 0), end["shard"])


class TarShardStreamDataSource(DataSource):
    """``spark.readStream.format("fg_tarshard_stream")`` — the streaming
    twin of :class:`TarShardDataSource` (distinct name: Spark resolves
    batch and stream capability from the same registration, and keeping
    the twins separate makes each row's surface explicit)."""

    @classmethod
    def name(cls) -> str:
        return "fg_tarshard_stream"

    def schema(self) -> str:
        return TAR_MEMBER_SCHEMA

    def streamReader(self, schema) -> TarShardStreamReader:
        return TarShardStreamReader(self.options)


def read_tar_shards_stream(spark: SparkSession, base: str) -> DataFrame:
    """Register (idempotently) and open the tar shards as a STREAM —
    one shard per micro-batch."""
    _register_by_value(spark, TarShardStreamDataSource)
    return (spark.readStream.format("fg_tarshard_stream")
            .option("path", base).load())


# --- the WRITE half: a custom Python DataSourceWriter ----------------------
#
# The API's write path is a real two-phase commit: each task streams its
# partition into a hidden temp shard and returns a WriterCommitMessage;
# the DRIVER publishes every temp atomically in commit() only after all
# tasks succeeded, and abort() removes the temps on any failure — the
# same no-torn-output contract the engine's file sinks give, implemented
# at the source level. Input schema: (member_id long, text string);
# partitioning is the caller's (repartition before save to choose shard
# count and member placement).


class _ShardCommit(WriterCommitMessage):
    def __init__(self, tmp: str, final: str, n: int):
        self.tmp, self.final, self.n = tmp, final, n


class TarShardWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.base = options["path"]
        self.overwrite = overwrite

    def write(self, rows) -> _ShardCommit:
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.base, exist_ok=True)
        tmp = os.path.join(self.base, f".tmp-{uuid.uuid4().hex}.tar")
        members = sorted((int(r.member_id), str(r.text)) for r in rows)
        with tarfile.open(tmp, "w", format=tarfile.USTAR_FORMAT) as tf:
            for mid, text in members:
                data = text.encode("utf-8")
                info = tarfile.TarInfo(name=f"{mid:012d}.txt")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
        return _ShardCommit(
            tmp, os.path.join(self.base, f"shard-{pid:05d}.tar"),
            len(members))

    def commit(self, messages) -> None:  # driver side: atomic publish
        import glob

        if self.overwrite:
            # mode("overwrite") must not leave stale shards from a prior,
            # larger run mixed into the new output (r11 advisor,
            # ADVICE.md pyds.py:219): clear every shard the new commit
            # does not replace before publishing.
            finals = {m.final for m in messages if m is not None}
            for old in glob.glob(os.path.join(self.base, "shard-*.tar")):
                if old not in finals:
                    os.remove(old)
        for m in messages:
            if m is not None:
                os.replace(m.tmp, m.final)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)


# --- the STREAMING SINK: a custom Python DataSourceStreamWriter ------------
#
# The fourth and last surface of the API: a streaming sink with per-epoch
# two-phase commit. write() runs per task per micro-batch into a hidden
# temp; commit(messages, batchId) publishes on the driver under names
# keyed by (batchId, taskId) via os.replace — so a REPLAYED micro-batch
# (at-least-once upstream) overwrites its own previous output instead of
# duplicating it: sink-side idempotence, the same contract the engine's
# file sinks and the foreachBatch txn-log sink give.


class TarShardStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.base = options["path"]

    def write(self, rows) -> _ShardCommit:
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.base, exist_ok=True)
        tmp = os.path.join(self.base, f".tmp-{uuid.uuid4().hex}.tar")
        members = sorted((int(r.member_id), str(r.text)) for r in rows)
        with tarfile.open(tmp, "w", format=tarfile.USTAR_FORMAT) as tf:
            for mid, text in members:
                data = text.encode("utf-8")
                info = tarfile.TarInfo(name=f"{mid:012d}.txt")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
        if not members:            # empty task: no shard file published
            os.remove(tmp)
            return _ShardCommit("", "", 0)
        return _ShardCommit(tmp, f"{pid:05d}", len(members))

    def commit(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.n:
                os.replace(m.tmp, os.path.join(
                    self.base, f"epoch-{batchId:06d}-{m.final}.tar"))

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.tmp and os.path.exists(m.tmp):
                os.remove(m.tmp)


class TarShardSinkDataSource(DataSource):
    """``writeStream.format("fg_tarshard_sink")`` — per-epoch two-phase
    commit into (batchId, taskId)-named shards."""

    @classmethod
    def name(cls) -> str:
        return "fg_tarshard_sink"

    def schema(self) -> str:
        return "member_id long, text string"

    def streamWriter(self, schema, overwrite: bool) -> TarShardStreamWriter:
        names = [f.name for f in schema.fields]
        if names != ["member_id", "text"]:
            raise ValueError("fg_tarshard_sink expects (member_id, "
                             f"text), got {names}")
        return TarShardStreamWriter(self.options)
