"""RethinkDB table scan + changefeed as engine sources.

Reference parity (adaptor/rethinkdb/reader.go):

- table scan (reader.go:35-151): ``TableList()`` filtered by the
  namespace regex, then a full cursor scan per table; every document is
  emitted as an Insert message with namespace = table name (copy phase).
  When tailing, the changefeed cursor for a table is opened BEFORE its
  scan finishes (reader.go:122-131), so changes arriving during the
  copy are not lost — the scan/tail handoff contract.
- changefeed classification (reader.go:153-200): each change
  notification carries ``old_val``/``new_val``; presence decides the op:

      old_val && new_val -> Update(new_val)
      new_val only       -> Insert(new_val)
      old_val only       -> Delete(old_val)
      error field        -> stream error

No RethinkDB driver is a dependency, so the client is injectable
exactly like the AMQP channel (sources/amqp.py) and no ``readStream``
format is registered: a deployment constructs the reader with a client
implementing ``table_list`` / ``table_docs`` / ``open_changefeeds`` /
``next_change``; tests drive the identical scan/classify/buffer logic
with an in-memory fake.
The op-classification and scan→tail handoff are what the tests pin.

The writer side (insert-replace buffering, ``_id``→``id`` rename) lives
in sources/bulk.py (rethink_bulk_ops).
"""

from __future__ import annotations

import json
import re
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSourceStreamReader,
    InputPartition,
)


class RethinkChangeError(RuntimeError):
    """A changefeed notification carried an error field
    (reader.go:181-182 pushes it on the error channel)."""


def classify_change(change: dict) -> Optional[Tuple[str, dict]]:
    """old_val/new_val presence -> (op, doc) per reader.go:184-192.

    Returns None for an empty notification (neither value present —
    e.g. the initial state barrier some feeds emit); raises on an
    error notification.
    """
    if change.get("error"):
        raise RethinkChangeError(str(change["error"]))
    old_val = change.get("old_val")
    new_val = change.get("new_val")
    if old_val is not None and new_val is not None:
        return ("update", new_val)
    if new_val is not None:
        return ("insert", new_val)
    if old_val is not None:
        return ("delete", old_val)
    return None


def filter_tables(tables: Sequence[str], ns_pattern: str = ".*") -> List[str]:
    """TableList() + namespace regex filter (reader.go:81-105): tables
    not matching are skipped before any read — whole-table pruning.
    Match semantics are the reference's ``regexp.MatchString``
    (pipeline/node.go:453) = UNANCHORED search, the same contract
    ``catalog.expand_namespaces`` implements (property-pinned as plain
    ``re.search``) — not fullmatch, not prefix."""
    pat = re.compile(ns_pattern)
    return [t for t in tables if pat.search(t)]


def scan_rows(
    client, ns_pattern: str = ".*"
) -> Iterator[Tuple[str, str, str, str]]:
    """Copy-phase scan: every doc of every matching table as an Insert
    envelope row (reader.go:133-146 emits message.From(ops.Insert,
    table, doc) per cursor row). Client contract: ``table_list() ->
    [str]``, ``table_docs(name) -> iterator of dict``."""
    for table in filter_tables(client.table_list(), ns_pattern):
        for doc in client.table_docs(table):
            yield (
                "insert",
                "",
                table,
                json.dumps(doc, sort_keys=True, default=str),
            )


class _Batch(InputPartition):
    """Rows ride inside the partition (executors never touch the feed
    cursor, which lives on the driver); a task retry re-reads identical
    payloads — same contract as sources/amqp._Batch."""

    def __init__(self, rows: List[Tuple[str, str, str, str]]):
        self.rows = rows


class RethinkChangefeedStreamReader(DataSourceStreamReader):
    """Changefeed tail with the scan→tail handoff of the reference.

    Changefeeds are push cursors with no replayable offset (like AMQP,
    unlike a binlog), so the reader buffers driver-side under monotone
    sequence numbers: [start, end) always re-reads the same buffered
    rows, and commit(end) forgets them once the epoch is durable.

    With ``initial_scan=True`` the FIRST micro-batch is the full table
    scan (copy phase, reader.go:122-146: the changefeed cursor is
    already open while the scan runs, so nothing in between is lost) —
    availableNow over this source reproduces the reference's
    copy-then-tail startup.
    """

    def __init__(
        self,
        client,
        ns_pattern: str = ".*",
        initial_scan: bool = True,
        max_per_batch: int = 10000,
    ):
        self.client = client
        self.ns_pattern = ns_pattern
        self.max_per_batch = max_per_batch
        self._seq = 0
        self._buffer: Dict[int, Tuple[str, str, str, str]] = {}
        self._scan_pending = initial_scan
        # open the feeds BEFORE any scan drains (handoff contract)
        self.tables = filter_tables(client.table_list(), ns_pattern)
        client.open_changefeeds(self.tables)

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def latestOffset(self) -> dict:
        if self._scan_pending:
            # copy phase: the whole current table contents, once
            for row in scan_rows(self.client, self.ns_pattern):
                self._buffer[self._seq] = row
                self._seq += 1
            self._scan_pending = False
        drained = 0
        while drained < self.max_per_batch:
            got = self.client.next_change()
            if got is None:
                break
            table, change = got
            classified = classify_change(change)  # raises on error notif
            if classified is None:
                continue
            op, doc = classified
            self._buffer[self._seq] = (
                op,
                "",
                table,
                json.dumps(doc, sort_keys=True, default=str),
            )
            self._seq += 1
            drained += 1
        return {"seq": self._seq}

    def partitions(self, start: dict, end: dict):
        rows = [
            self._buffer[s]
            for s in range(start["seq"], end["seq"])
            if s in self._buffer
        ]
        return [_Batch(rows)]

    def read(self, partition: _Batch) -> Iterator[Tuple]:
        return iter(partition.rows)

    def commit(self, end: dict) -> None:
        for s in [s for s in self._buffer if s < end["seq"]]:
            del self._buffer[s]
