"""AMQP (RabbitMQ) consumer as a custom PySpark streaming source.

Reference parity (adaptor/rabbitmq/reader.go:34-129): list queues from
the management HTTP API, AMQP-consume each, JSON-decode bodies, and
**ack after emit** — at-least-once delivery. AMQP queues cannot be
replayed by offset (a basic.get is destructive once acked), so the
Spark mapping is NOT a replayable-offset source like Kafka; it is the
same at-least-once contract the reference offers, expressed through
the DataSource commit hook:

- ``latestOffset()`` (driver) drains currently-available messages into
  an in-memory buffer and advances a monotone sequence number.
- ``partitions(start, end)`` ships the buffered message payloads to
  executors *inside* the InputPartition (messages for [start, end) are
  pinned in the buffer, so a failed/retried micro-batch re-reads the
  identical rows — deterministic within the batch).
- ``commit(end)`` (driver, called after the batch is durably written)
  basic-acks every delivery tag consumed up to ``end`` and drops it
  from the buffer. A crash before commit leaves messages unacked; the
  broker redelivers them on restart — exactly the reference's
  ack-after-emit at-least-once behavior.

Queue discovery skips the broker's internal ``amq.*`` queues, the
analog of the reference's ``system.*`` collection skip
(adaptor/mongodb/reader.go:49-55).

No AMQP client library is a dependency, so the broker channel is
injectable and no ``readStream`` format is registered: a deployment
constructs the reader with a channel implementing ``basic_get`` /
``basic_ack`` (e.g. over pika); tests drive the identical reader logic
with an in-memory fake. The
offset/ack state machine — the part that can silently lose or
double-ack messages — is what the tests pin.
"""

from __future__ import annotations

import json
from typing import Callable, Dict, Iterator, List, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSourceStreamReader,
    InputPartition,
)


class AmqpMessage:
    """One consumed-but-unacked message: (queue, delivery_tag, body)."""

    __slots__ = ("queue", "delivery_tag", "body")

    def __init__(self, queue: str, delivery_tag: int, body: bytes):
        self.queue = queue
        self.delivery_tag = delivery_tag
        self.body = body


class _Batch(InputPartition):
    """Messages ride inside the partition object: executors never touch
    the broker (which holds unacked state only for the driver's
    channel), and a task retry re-reads identical payloads."""

    def __init__(self, rows: List[Tuple[str, str, str, str]]):
        self.rows = rows


def list_queues(names: Sequence[str]) -> List[str]:
    """Filter a broker's queue listing the way the reference filters
    namespaces: drop broker-internal queues (``amq.*``)."""
    return [n for n in names if not n.startswith("amq.")]


class AmqpTailStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        queues: Sequence[str],
        channel,
        ns_prefix: str = "",
        default_op: str = "insert",
        max_per_batch: int = 10000,
    ):
        self.queues = list_queues(queues)
        self.channel = channel
        self.ns_prefix = ns_prefix
        self.default_op = default_op
        self.max_per_batch = max_per_batch
        self._seq = 0  # next sequence number to assign
        self._buffer: Dict[int, AmqpMessage] = {}  # seq -> unacked msg

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def latestOffset(self) -> dict:
        """Drain what the broker has *now* (bounded) into the buffer.
        The sequence number only ever grows; the buffer holds every
        message with seq >= last committed offset."""
        drained = 0
        for queue in self.queues:
            while drained < self.max_per_batch:
                got = self.channel.basic_get(queue)
                if got is None:
                    break
                delivery_tag, body = got
                self._buffer[self._seq] = AmqpMessage(queue, delivery_tag, body)
                self._seq += 1
                drained += 1
        return {"seq": self._seq}

    # -- planning / reading ----------------------------------------------

    def _decode(self, msg: AmqpMessage) -> Tuple[str, str, str, str]:
        try:
            doc = json.loads(msg.body)
        except (json.JSONDecodeError, UnicodeDecodeError):
            doc = {"_raw": msg.body.decode("utf-8", "replace")}
        if not isinstance(doc, dict):
            doc = {"_value": doc}
        return (
            str(doc.get("op", self.default_op)),
            str(doc.get("ts", "")),
            self.ns_prefix + msg.queue,
            json.dumps(doc.get("data", doc), sort_keys=True, default=str),
        )

    def partitions(self, start: dict, end: dict):
        rows = [
            self._decode(self._buffer[s])
            for s in range(start["seq"], end["seq"])
            if s in self._buffer
        ]
        return [_Batch(rows)]

    def read(self, partition: _Batch) -> Iterator[Tuple]:
        return iter(partition.rows)

    # -- ack-after-emit ---------------------------------------------------

    def commit(self, end: dict) -> None:
        """The batch up to `end` is durably written: ack and forget.
        Acking ONLY here (never in read) is the at-least-once
        guarantee — a crash between emit and commit redelivers."""
        done = [s for s in self._buffer if s < end["seq"]]
        for s in sorted(done):
            msg = self._buffer.pop(s)
            self.channel.basic_ack(msg.delivery_tag)
