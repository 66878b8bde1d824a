"""Custom PySpark DataSource: a JSON-lines *tail* streaming source.

The reference has streaming readers for sources Spark lacks connectors
for (postgres logical decoding poller adaptor/postgres/tailer.go:35-137,
rabbitmq consumer adaptor/rabbitmq/reader.go:34-129). The portable part
of that work — a custom source that tracks its own offsets and replays
deterministically between them — is exactly PySpark's DataSource API
(pyspark.sql.datasource, Spark 4). This module implements it for a
growing JSON-lines file: offset = byte position, each micro-batch reads
[start, end) and emits envelope rows.

It is the template for the real tail sources: swap "file size" for
"confirmed LSN" / "binlog position" and "read bytes" for "fetch slot
changes" and the checkpoint/replay contract is identical.

Register + use:

    spark.dataSource.register(JsonlTailDataSource)
    df = (spark.readStream.format("jsonl_tail")
          .option("path", "/data/feed.jsonl").load())
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_SCHEMA = "op string, ts string, ns string, json string"


def last_complete_offset(path: str) -> int:
    """Byte position just after the file's last complete newline.

    latestOffset must never land mid-line: a producer appending while we
    stat the file would otherwise split a record across two micro-batches
    and both halves would be dropped by the poison-line skip — losing a
    row and breaking at-least-once replay (the reference's slot/queue
    polling is record-oriented and cannot split records). Scanning back
    from EOF keeps the offset on a record boundary; an unterminated tail
    line is simply held back until its newline arrives.
    """
    try:
        size = os.path.getsize(path)
    except OSError:
        return 0
    if size == 0:
        return 0
    chunk = 1 << 16
    with open(path, "rb") as f:
        end = size
        while end > 0:
            start = max(0, end - chunk)
            f.seek(start)
            buf = f.read(end - start)
            nl = buf.rfind(b"\n")
            if nl != -1:
                return start + nl + 1
            end = start
    return 0


class _Range(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class JsonlTailStreamReader(DataSourceStreamReader):
    """Offsets are byte positions in the file — monotone, replayable:
    the same [start, end) always yields the same rows, which is what
    lets Spark's checkpoint subsume the reference's commitlog+offsets
    (DESIGN.md:77-107)."""

    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_tail requires option 'path'")
        self.ns = options.get("ns", self.path)

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        return {"pos": last_complete_offset(self.path)}

    def partitions(self, start: dict, end: dict):
        if end["pos"] <= start["pos"]:
            return [_Range(self.path, 0, 0)]
        return [_Range(self.path, start["pos"], end["pos"])]

    def read(self, partition: _Range) -> Iterator[Tuple]:
        if partition.end <= partition.start:
            return
        with open(partition.path, "rb") as f:
            f.seek(partition.start)
            buf = f.read(partition.end - partition.start)
        for line in buf.splitlines():
            line = line.strip()
            if not line:
                continue
            try:
                doc = json.loads(line)
            except json.JSONDecodeError:
                doc = None
            if not isinstance(doc, dict):
                continue  # poison line: skip-and-advance (DESIGN.md:221-236)
            yield (
                str(doc.get("op", "insert")),
                str(doc.get("ts", "")),
                str(doc.get("ns", self.ns)),
                json.dumps(doc.get("data", doc), sort_keys=True),
            )

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: the file is the log


class JsonlTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_tail"

    def schema(self) -> str:
        return _SCHEMA

    def streamReader(self, schema: StructType) -> JsonlTailStreamReader:
        return JsonlTailStreamReader(schema, self.options)
