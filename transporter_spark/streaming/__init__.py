"""Structured Streaming layer: the reference's tail/CDC machinery
(SURVEY.md §2.5) re-expressed as readStream sources, checkpointed
queries, and foreachBatch CDC-apply sinks.

What the reference builds by hand — commit log (commitlog/), per-sink
consumer offsets (offset/), resume-replay (pipeline/node.go:269-415),
ack/confirm chains — Spark's checkpoint + replayable-source contract
provides natively; the engine's job is only to (a) present sources in
the envelope shape, (b) apply CDC batches idempotently (last-writer-
wins upsert), and (c) expose the event-time surface the reference
never had (watermarks, tumbling/session windows).
"""

from transporter_spark.streaming.sources import stream_table
from transporter_spark.streaming.cdc import apply_cdc_batch, cdc_upsert_sink
from transporter_spark.streaming.state import SegmentStore
from transporter_spark.streaming.windows import (
    windowed_counts,
    run_available_now,
)

__all__ = [
    "stream_table",
    "apply_cdc_batch",
    "cdc_upsert_sink",
    "SegmentStore",
    "windowed_counts",
    "run_available_now",
]
