"""File-replay frame source.

Replays captured exchange frames (one JSON text frame per line, in capture
order) as a rate-limited stream — the deterministic stand-in for the live
websocket sources (SURVEY.md §2.1 S1/S2) that every streaming test uses.
Implemented as a Spark 4 Python DataSource stream reader so the engine
exercises the same source contract a live connector would: offsets,
``read(start) -> (rows, next_offset)``, replay-on-restart recovery.

For plain batch/golden tests, ``read_frames_batch`` loads the same capture
files through the ordinary file source with an arrival-order ``seq``.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from fictional_guacamole_spark.sources.pyds import _register_by_value

REPLAY_SCHEMA = "seq long, value string"


def _scan(fh, line: int, stop: float) -> tuple[list, int]:
    """Scan ``fh`` from its current position, which is the start of line
    ``line``, up to line ``stop``: the ``(line, frame)`` rows of the
    non-blank lines, and the number of the first line not scanned."""
    rows = []
    while line < stop:
        text = fh.readline()
        if not text:
            break
        text = text.strip()
        if text:
            rows.append((line, text))
        line += 1
    return rows, line


class ReplayStreamReader(SimpleDataSourceStreamReader):
    """Reads ``frames_per_batch`` lines per micro-batch from a capture file.

    The offset is the absolute line number, so checkpoint recovery re-reads
    from exactly the committed position (at-least-once within a batch,
    exactly-once end-to-end with an idempotent sink). The reader keeps the
    byte position where its last scan ended, so the next ``read`` from
    there seeks instead of rescanning the file; a fresh reader (a restart)
    counts lines from the top.
    """

    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.frames_per_batch = int(options.get("framesPerBatch", "100"))
        self._end: tuple[int, int] | None = None  # (line, byte position)

    def initialOffset(self) -> dict:
        return {"line": 0}

    def _rows(self, start: int, stop: float) -> tuple[list, int]:
        """``_scan`` of lines ``[start, stop)``, seeking to where the last
        scan ended when it ended at ``start``."""
        with open(self.path, encoding="utf-8") as fh:
            if self._end is not None and self._end[0] == start:
                fh.seek(self._end[1])
            else:
                for _ in range(start):
                    if not fh.readline():
                        break
            rows, end = _scan(fh, start, stop)
            self._end = (end, fh.tell())
        return rows, end

    def read(self, start: dict) -> tuple:
        # The end offset advances by lines SCANNED, not rows emitted: a
        # blank line inside the window would otherwise be re-scanned (its
        # followers re-emitted = duplicate seq values), and a window of all
        # blanks would leave the offset pinned forever.
        rows, end = self._rows(start["line"],
                               start["line"] + self.frames_per_batch)
        return iter(rows), {"line": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> iter:
        return iter(self._rows(start["line"], end["line"])[0])


class ReplayDataSource(DataSource):
    """``spark.readStream.format("frame_replay").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "frame_replay"

    def schema(self) -> str:
        return REPLAY_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> ReplayStreamReader:
        return ReplayStreamReader(self.options)


def register(spark: SparkSession) -> None:
    _register_by_value(spark, ReplayDataSource)


def read_frames_stream(spark: SparkSession, path: str,
                       frames_per_batch: int = 100) -> DataFrame:
    register(spark)
    return (spark.readStream.format("frame_replay")
            .option("path", path)
            .option("framesPerBatch", str(frames_per_batch))
            .load())


def read_frames_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch load of a capture file with arrival-order seq (single capture
    file = single connection's ordered frames; the per-file readers keep
    line order, and seq makes the order explicit for the kernel)."""
    with open(path, encoding="utf-8") as fh:
        rows, _ = _scan(fh, 0, math.inf)
    return spark.createDataFrame(rows, REPLAY_SCHEMA)


def write_capture(path: str, frames: list[dict | str]) -> str:
    """Test helper: write frames (dicts or raw JSON strings) as a capture
    file, one frame per line."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        for f in frames:
            fh.write(f if isinstance(f, str) else json.dumps(f))
            fh.write("\n")
    return path
