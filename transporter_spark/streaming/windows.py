"""Event-time windowing on streams + the availableNow test/batch bridge.

Capability the reference explicitly lacks (its ts is ingest time,
message/message.go:62-66; no windows, no state — SURVEY §2.5 last row).
"""

from __future__ import annotations

import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transporter_spark.streaming.state import (
    SEG_KEY,
    SegmentStore,
    drain_checkpoint,
    drain_sink,
)


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple = (),
) -> DataFrame:
    """Tumbling-window counts+sums with a watermark. The watermark
    bounds state: late rows beyond it are dropped, which is the
    streaming trade the reference never had to make (it had no state)."""
    agg_cols = [F.count("*").alias("n")]
    if "value" in stream.columns:
        agg_cols.append(
            F.sum(F.col("value").cast("string").cast("decimal(38,6)")).alias("sum_value")
        )
    # watermarks require TIMESTAMP (LTZ); parquet sources may yield NTZ.
    # The engine pins the session timezone to UTC, so the cast is
    # instant-preserving.
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("win"), *group_cols)
        .agg(*agg_cols)
        .select(F.col("win.start").alias("win_start"), *group_cols, *[
            F.col(c) for c in (["n", "sum_value"] if len(agg_cols) == 2 else ["n"])
        ])
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: Optional[str] = None,
    output_mode: str = "append",
    state_partitions: Optional[int] = None,
) -> DataFrame:
    """Run a streaming plan to exhaustion (Trigger.AvailableNow) into a
    memory sink and return the result as a batch DataFrame.

    This is the copy-phase semantics of the reference (read everything
    currently there, then stop — adaptor readers' copy mode) and the
    harness that lets streaming plans join the DuckDB oracle gate.

    state_partitions sizes the stateful operators' shuffle (pinned into
    the checkpoint at first run): streaming gets no AQE coalescing, so
    a vanilla session's 200 partitions mean 200 state-store tasks per
    stage regardless of data volume. Default: the cluster's core count
    (one state task per core) — at real scale pass an explicit number
    sized to state volume instead. Safe to set/restore around the run
    because availableNow + awaitTermination is synchronous. Without
    ``checkpoint_dir`` it checkpoints to a temp dir removed when the
    query ends (``drain_checkpoint``)."""
    from transporter_spark.session import scoped_shuffle_partitions

    spark = stream_df.sparkSession
    name = "avail_" + uuid.uuid4().hex[:12]
    parts = state_partitions or spark.sparkContext.defaultParallelism
    with (
        drain_checkpoint(checkpoint_dir) as checkpoint,
        scoped_shuffle_partitions(spark, parts),
    ):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def incremental_rollup_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: Optional[str] = None,
    ts_col: str = "ts",
    keys: tuple = (),
    value: str = "value",
    compact_every: Optional[int] = None,
) -> int:
    """Continuous-aggregate maintenance (the hypertable refresh loop,
    batch twin: operators/temporal.rollup_lattice): each micro-batch's
    rows aggregate to HOURLY decimal partials, merged into a persistent
    hourly table; daily (or any coarser resolution) re-derives from the
    hourly partials without ever re-reading raw data.

    Exactness is the load-bearing property: partials are decimal sums
    (associative), so merge order / batch boundaries cannot change the
    result — maintained-incrementally == recomputed-from-scratch,
    bit-for-bit (pinned by test). Scale shape: per batch, one shuffle
    of #touched-hours x #keys partial rows; the state merge READS only
    the segments the batch's hour keys map to and WRITES one segment
    holding only those hours' merged rows (the keyed manifest store,
    streaming/state.SegmentStore) — the classic delta-merge, with
    per-epoch IO ∝ #touched hours, never O(state). ``compact_every=N``
    folds the log in-slot when it reaches N segments (or call
    ``compact_rollup_state`` offline between runs). Returns the number
    of applied epochs.

    Replay safety: foreachBatch is at-least-once — a crash after the
    state commit but before the checkpoint commit re-delivers the same
    epoch on restart. The last-applied epoch_id lives in the manifest
    (one atomic ``os.replace`` commits epoch + segment mapping
    together), and a replayed epoch is a no-op.

    Limit (inherent to aggregation sinks): rows a source re-delivers
    under NEW offsets are indistinguishable from new data and WILL
    double-count — that's a source-duplication problem no aggregating
    sink can repair. Deduplicate upstream (keyed
    dropDuplicatesWithinWatermark) when feeding from an at-least-once
    source; the keyed sinks (cdc_upsert_sink, the ingest dedup sink)
    are replay-proof on their own because their merges are idempotent
    per key.
    """
    return drain_sink(
        stream_df,
        lambda b, e: rollup_merge_batch(b, e, state_dir, ts_col, keys, value),
        state_dir, "hourly", compact_rollup_state, compact_every, checkpoint_dir,
    )


# hour keys are the hour's epoch seconds (instant-based, timezone-
# immune); bump this marker if the derivation ever changes so old
# states fail loudly instead of silently splitting hours across keys
_SEG_KEY_FORMAT = "epoch_seconds"


def rollup_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_dir: str,
    ts_col: str = "ts",
    keys: tuple = (),
    value: str = "value",
) -> bool:
    """One delta-merge step of incremental_rollup_sink; returns False
    when the epoch was already applied (micro-batch replay) and the
    merge was skipped. Module-level so the replay contract is directly
    testable without crashing a streaming query mid-commit.

    Hour-scoped by construction: the batch's partials name the touched
    hour keys; only the segments those keys map to are read (keyed
    manifest lookup — untouched hours' segments are never opened), the
    merged rows for exactly those hours go to ONE new segment, and the
    manifest remaps the touched keys atomically. The touched-hour
    key list is a driver-side collect — bounded by the batch's time
    span (#hours), metadata-sized, never row data."""
    keys_l = list(keys)
    b = batch
    if dict(b.dtypes).get(ts_col) == "timestamp_ntz":
        b = b.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    partial = (
        b.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("hour"), *keys_l)
        .agg(
            F.sum(
                F.col(value).cast("string").cast("decimal(38,6)")
            ).alias("sum_value"),
            F.count("*").alias("n"),
        )
        # segment key = the hour's epoch seconds: instant-based, so the
        # persisted mapping is immune to session-timezone changes
        # between runs (a date_format key would remap the same instant
        # to a different string under a different timeZone and
        # double-materialize the hour)
        .withColumn(SEG_KEY, F.col("hour").cast("long").cast("string"))
    )

    def remerge(prev, part):
        return (
            prev.unionByName(part)
            .groupBy("hour", *keys_l)
            .agg(
                F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
                F.sum("n").alias("n"),
            )
            .withColumn(SEG_KEY, F.col("hour").cast("long").cast("string"))
        )

    # the epoch/format guards, touched-key pruning, and write+remap
    # commit live in ONE place for every keyed aggregation sink
    return SegmentStore(state_dir).keyed_delta_merge(
        batch.sparkSession, "hourly", partial, remerge, epoch_id,
        _SEG_KEY_FORMAT,
    )


def read_rollup_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained hourly partials (current rows only — stale rows
    left behind in partially-remapped segments are filtered out by the
    keyed read)."""
    hourly = SegmentStore(state_dir).read_keyed(spark, "hourly")
    if hourly is None:
        raise FileNotFoundError(
            f"no committed rollup state at {state_dir!r}: the sink has "
            "not applied any non-empty epoch yet"
        )
    return hourly.drop(SEG_KEY)


def compact_rollup_state(spark: SparkSession, state_dir: str) -> bool:
    """Merge the hourly state's segments into one, dropping stale rows
    for good (same discipline as ingest.compact_ingest_state). Returns
    False when already compact."""
    return SegmentStore(state_dir).compact_keyed_commit(spark, "hourly")


def rollup_daily_from_state(spark: SparkSession, state_dir: str, keys: tuple = ()) -> DataFrame:
    """Derive the daily resolution from maintained hourly partials —
    never from raw (decimal partials make this exact)."""
    hourly = read_rollup_state(spark, state_dir)
    return (
        hourly.groupBy(F.date_trunc("day", F.col("hour")).alias("day"), *keys)
        .agg(
            F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
            F.sum("n").alias("n"),
        )
    )
