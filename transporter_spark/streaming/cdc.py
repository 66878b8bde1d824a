"""CDC apply: turn an insert/update/delete envelope stream into a
maintained table — the engine's replacement for the reference's
row-at-a-time sink writers (adaptor/*/writer.go) and their one-at-a-time
ordering guarantee.

Semantics ported from the reference:
- update is a FULL-DOCUMENT REPLACE, not a delta (the mongo tailer
  re-fetches the whole doc, adaptor/mongodb/reader.go:296-313) — so
  apply is a pure upsert.
- unknown ops pass through silently-but-acked (mongodb/writer.go:33-40)
  — here: filtered with no failure.
- at-least-once replay must be idempotent — last-writer-wins makes
  reapplying any subset of the log a no-op.

Semantics the reference CAN'T provide that this engine must: epochs
may arrive out of event-time order (file order, shuffled partitions,
replays). The reference sidesteps this with strictly ordered
one-at-a-time delivery; a distributed engine cannot. So the maintained
state carries its CDC metadata:

    payload... , _ts timestamp, _op ('live' | 'delete')

- `_ts` (+ payload tiebreakers) lets every merge be a true
  last-WRITER-wins comparison against the standing row, so an older
  change arriving later never clobbers newer state.
- delete TOMBSTONES are retained, so an older update arriving after
  the delete cannot resurrect the row. (Tombstone GC = drop tombstones
  older than the source's max replay horizon — the same contract as
  Kafka compaction / Delta vacuum.)

`apply_cdc_batch` is a pure DataFrame function; `cdc_upsert_sink`
wires it into foreachBatch as an LSM over the manifest/segment store —
one appended segment per epoch (IO ∝ |batch|), merge-on-read /
merge-on-compaction (on Delta/Iceberg the same per-epoch segment
becomes a MERGE INTO source with the identical _ts guard);
`read_cdc_table` reads the live rows.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_KNOWN_OPS = ("insert", "update", "delete")
_META = ("_op", "_ts", "_prio")


def latest_per_key(
    changes: DataFrame, keys: List[str], order_cols: Optional[List[str]] = None
) -> DataFrame:
    """Collapse to the newest row per key (row_number LWW — SURVEY
    §2.6). order_cols are ranked descending, in order."""
    order_cols = order_cols or ["_ts"]
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols]
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_cdc_batch(
    current: Optional[DataFrame],
    changes: DataFrame,
    keys: List[str],
    order_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Merge an envelope change-batch into the current CDC state.

    changes: envelope frame (op/ts/ns/data). current: prior state
    (payload + optionally _ts/_op from a previous apply). Returns the
    new state INCLUDING tombstones — filter with ``live_rows`` for the
    user-facing table. Idempotent and order-insensitive across
    batches: the newest (_ts, order_cols, change-beats-state) row wins
    regardless of arrival epoch.
    """
    order_cols = [c for c in (order_cols or []) if c not in ("ts", "_ts")]
    flat = changes.select(
        F.lower("op").alias("_op"), F.col("ts").alias("_ts"), F.col("data.*")
    ).filter(F.col("_op").isin(*_KNOWN_OPS))
    flat = flat.withColumn(
        "_op", F.when(F.col("_op") == "delete", "delete").otherwise("live")
    )
    order = ["_ts"] + order_cols + ["_prio"]
    newest = latest_per_key(
        flat.withColumn("_prio", F.lit(1)), keys, order
    )
    if current is None:
        merged = newest
    else:
        cur = current
        if "_ts" not in cur.columns:
            cur = cur.withColumn("_ts", F.lit(None).cast("timestamp"))
        if "_op" not in cur.columns:
            cur = cur.withColumn("_op", F.lit("live"))
        # equal (_ts + tiebreakers): the incoming change wins over the
        # standing row (_prio), keeping replays idempotent
        cur = cur.withColumn("_prio", F.lit(0))
        merged = latest_per_key(cur.unionByName(newest), keys, order)
    return merged.drop("_prio")


def live_rows(state: DataFrame) -> DataFrame:
    """User-facing view of CDC state: no tombstones, no metadata."""
    return state.filter(F.col("_op") != "delete").drop("_op", "_ts")


def compact_tombstones(state: DataFrame, horizon) -> DataFrame:
    """Tombstone GC — the Kafka-compaction / Delta-vacuum contract:
    drop delete markers whose _ts is at or before ``horizon`` (a
    timestamp literal or Column). Correctness bound: ``horizon`` must
    not exceed the source's max replay lag — a tombstone may only be
    dropped once no change OLDER than it can still arrive, otherwise a
    late stale update would resurrect the deleted row. Live rows are
    never touched; state size returns to ~#live keys."""
    h = horizon if isinstance(horizon, Column) else F.lit(horizon).cast("timestamp")
    return state.filter(
        (F.col("_op") != "delete") | F.col("_ts").isNull() | (F.col("_ts") > h)
    )


def cdc_upsert_sink(
    spark: SparkSession,
    table_path: str,
    keys: List[str],
    order_cols: Optional[List[str]] = None,
    compact_every: Optional[int] = None,
):
    """foreachBatch function maintaining a CDC table from an envelope
    stream, LSM-style over the manifest/segment store
    (streaming/state.SegmentStore): each epoch appends ONE segment —
    the batch collapsed to its newest row per key, tagged ``_epoch`` —
    and the merge to current state happens at READ time (or at
    compaction), newest (``_ts``, order_cols, ``_epoch``) per key.

    Why: the previous design re-merged and rewrote the FULL state every
    epoch — O(|state|) IO per batch, quadratic over the stream's life.
    Append-per-epoch is the reference's own commitlog discipline
    (commitlog/commitlog.go:170-183; epoch = the bulk-flush boundary,
    message/ops/ops.go:64-74) and the LSM/Delta-change-feed shape:
    per-epoch IO ∝ |batch|, read cost grows with segment count until
    ``compact_cdc_table`` folds them (compactor parity:
    commitlog/compactor.go:35-116).

    Ordering parity with ``apply_cdc_batch``: cross-epoch ties on
    (_ts + order_cols) resolve to the LATER epoch — exactly the
    change-beats-state ``_prio`` rule, so replays and out-of-order
    epochs behave identically (pinned by the multi-epoch and
    no-resurrection tests). A replayed epoch is skipped outright via
    the manifest epoch. Production sinks on Delta/Iceberg replace the
    read-side window with MERGE INTO per epoch — the collapsed epoch
    segment is the exact merge source.

    ``compact_every=N`` folds the log in the epoch slot whenever it
    reaches N segments (state.drain_sink). An epoch whose ``keys`` or
    ``order_cols`` differ from the ones the state was built with raises
    (``SegmentStore.check_meta``) before anything is written. The
    manifest records no schema: each segment's parquet footer is its
    schema record, so the readers take the schema from the footers
    without a Spark job, and an epoch that widens the payload keeps its
    new columns (``state.read_segments``). The returned fn is a plain
    ``(batch, epoch_id)`` foreachBatch function; it returns whether the
    epoch applied.
    """
    from transporter_spark.streaming.state import SegmentStore, epoch_sink

    def apply(batch: DataFrame, epoch_id: int) -> bool:
        store = SegmentStore(table_path)
        meta = {"keys": list(keys), "order_cols": list(order_cols or [])}
        store.check_meta(
            meta,
            "merging segments under other keys or order columns would "
            "silently mix two tables; write to a new path",
        )

        def build(b: DataFrame) -> dict:
            delta = apply_cdc_batch(None, b, keys, order_cols).withColumn(
                "_epoch", F.lit(int(epoch_id))
            )
            return {"delta": delta}

        return store.append_epoch(batch, epoch_id, build, meta=meta)

    # folds run on the caller's session, not the batch's streaming
    # clone (which has AQE off); the compactor is looked up per call,
    # so a wrapper installed on the module attribute sees every fold
    return epoch_sink(
        apply,
        table_path,
        "delta",
        lambda _batch_session, path: compact_cdc_table(spark, path),
        compact_every,
    )


def read_cdc_state(spark: SparkSession, table_path: str) -> DataFrame:
    """Merge-on-read of the CDC segment log: newest row per key across
    all epoch segments, INCLUDING tombstones (the maintained-state
    equivalent of chaining apply_cdc_batch over every epoch)."""
    from transporter_spark.streaming.state import SegmentStore

    store = SegmentStore(table_path)
    meta = store.meta()
    segs = store.read(spark, "delta")
    if segs is None or "keys" not in meta:
        raise FileNotFoundError(
            f"no committed CDC state at {table_path!r}: the sink has "
            "not applied any non-empty epoch yet"
        )
    order = ["_ts"] + [
        c for c in meta.get("order_cols", []) if c not in ("ts", "_ts")
    ] + ["_epoch"]
    return latest_per_key(segs, meta["keys"], order)


def compact_cdc_table(
    spark: SparkSession, table_path: str, tombstone_horizon=None
) -> bool:
    """Fold the epoch segments into one materialized-state segment
    (optionally GC-ing tombstones at or before ``tombstone_horizon`` —
    see compact_tombstones for the replay-lag correctness bound).
    Committed via the atomic manifest swap; replaced segments survive
    one more commit for concurrent readers. Returns False (writing
    nothing) when already compact and no tombstone is expired — safe to
    call on a maintenance schedule without O(state) rewrites per call."""
    from transporter_spark.streaming.state import SegmentStore

    store = SegmentStore(table_path)
    if store.manifest() is None:
        return False
    state = read_cdc_state(spark, table_path)
    if len(store.table_segments("delta")) <= 1:
        if tombstone_horizon is None:
            return False
        # one early-exit probe for any expired tombstone (the complement
        # of compact_tombstones' keep-predicate), not two full scans
        h = (
            tombstone_horizon
            if isinstance(tombstone_horizon, Column)
            else F.lit(tombstone_horizon).cast("timestamp")
        )
        expired = state.filter(
            (F.col("_op") == "delete")
            & F.col("_ts").isNotNull()
            & (F.col("_ts") <= h)
        )
        if expired.isEmpty():
            return False
    if tombstone_horizon is not None:
        state = compact_tombstones(state, tombstone_horizon)
    name = store.fresh_name(f"delta-compact{store.last_epoch()}")
    state.write.mode("overwrite").parquet(store.seg_path(name))
    store.commit(store.last_epoch(), tables={"delta": [name]})
    return True


def read_cdc_table(spark: SparkSession, table_path: str) -> DataFrame:
    return live_rows(read_cdc_state(spark, table_path)).drop("_epoch")
