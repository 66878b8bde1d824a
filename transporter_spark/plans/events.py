"""Events/metrics plane — parity with the reference's event emitter
(events/events.go:28-138: boot/metrics/error/exit JSON events on a
shared channel, ticker-driven counts per node).

Spark-side the equivalents are listener hooks:
- batch queries  -> QueryExecutionListener (rows/bytes per completed
  action, success/failure)
- streaming      -> StreamingQueryListener (progress events carry
  rows/sec, batch durations, watermark — the metrics ticker for free)

Both emit the reference's JSON event shape so downstream tooling that
consumed transporter events can consume these.
"""

from __future__ import annotations

import json
import sys
import time
from typing import List

from pyspark.sql import SparkSession


class MetricsEmitter:
    """Collects pipeline metric events and emits them as JSON lines
    (the log-emitter analog, events/emitter.go:36-77)."""

    def __init__(self, sink=sys.stderr):
        self.sink = sink
        self.events: List[dict] = []

    def emit(self, kind: str, **payload) -> dict:
        event = {"event": kind, "ts": int(time.time()), **payload}
        self.events.append(event)
        line = json.dumps(event, default=str)
        if self.sink is not None:
            print(line, file=self.sink)
        return event

    # reference event vocabulary (events/events.go:44-138)
    def boot(self, endpoints: dict) -> dict:
        return self.emit("boot", endpoints=endpoints)

    def metrics(self, path: str, records: int) -> dict:
        return self.emit("metrics", path=path, records=records)

    def error(self, path: str, message: str) -> dict:
        return self.emit("error", path=path, message=message)

    def exit(self) -> dict:
        return self.emit("exit")


def attach_streaming_metrics(
    spark: SparkSession, emitter: MetricsEmitter
) -> "object":
    """Register a StreamingQueryListener that forwards progress to the
    emitter as `metrics` events (per-query record counts — the
    reference's per-node ticker, pipeline/pipeline.go:146-162).
    Returns the listener (keep a reference to remove it later)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            emitter.emit("boot", endpoints={"query": event.name or event.id})

        def onQueryProgress(self, event):
            p = event.progress
            emitter.metrics(path=p.name or str(p.id), records=p.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if event.exception:
                emitter.error(str(event.id), event.exception)
            emitter.exit()

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
