"""Streaming semantics: availableNow drain, CDC idempotency, watermark
append-mode behavior, custom stateful operator via applyInPandasWithState."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from transporter_spark.envelope import to_envelope
from transporter_spark.streaming.cdc import apply_cdc_batch, latest_per_key, live_rows
from transporter_spark.streaming.sources import stream_table
from transporter_spark.streaming.windows import run_available_now, windowed_counts


def _env(spark, rows):
    """envelope frame from (op, ts, user_id, v) tuples."""
    df = spark.createDataFrame(rows, "op string, ts timestamp, user_id long, v string")
    return df.select(
        "op", "ts", F.lit("t").alias("ns"),
        F.struct("user_id", "v", "ts").alias("data"),
    )


def test_apply_cdc_batch_upsert_delete(spark):
    from datetime import datetime

    t = datetime(2024, 1, 1)
    t2 = datetime(2024, 1, 2)
    current = spark.createDataFrame(
        [(1, "old", t), (2, "keep", t)], "user_id long, v string, ts timestamp"
    )
    changes = _env(
        spark,
        [
            ("update", t2, 1, "new"),   # replaces user 1
            ("delete", t2, 2, None),     # removes user 2
            ("insert", t2, 3, "born"),  # adds user 3
        ],
    )
    out = live_rows(apply_cdc_batch(current, changes, keys=["user_id"]))
    got = {r.user_id: r.v for r in out.collect()}
    assert got == {1: "new", 3: "born"}


def test_apply_cdc_batch_idempotent_replay(spark):
    """At-least-once parity: re-applying the same changes is a no-op
    (DESIGN.md:77-82 — duplicates must not corrupt the sink)."""
    from datetime import datetime

    t = datetime(2024, 1, 1)
    changes = _env(spark, [("insert", t, 1, "a"), ("update", t, 2, "b")])
    once = apply_cdc_batch(None, changes, keys=["user_id"])
    twice = apply_cdc_batch(once, changes, keys=["user_id"])
    assert sorted(
        map(tuple, live_rows(once).select("user_id", "v").collect())
    ) == sorted(map(tuple, live_rows(twice).select("user_id", "v").collect()))


def test_apply_cdc_lww_within_batch(spark):
    """Two changes to the same key in one batch: newest (ts) wins —
    the window-function replacement for ordered one-at-a-time delivery."""
    from datetime import datetime

    t1, t2 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    changes = _env(spark, [("insert", t1, 1, "first"), ("update", t2, 1, "second")])
    out = live_rows(apply_cdc_batch(None, changes, keys=["user_id"]))
    assert [r.v for r in out.collect()] == ["second"]


def test_stream_drain_equals_batch(spark, sf_dir):
    """availableNow drain of a streaming scan == batch read (copy-mode
    parity: reference copy phase reads exactly what exists, then stops)."""
    stream = stream_table(spark, sf_dir, "nation")
    got = run_available_now(stream)
    batch = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_envelope_shape(spark, sf_dir):
    env = to_envelope(stream_table(spark, sf_dir, "events"), ns="events", ts_col="ts")
    assert env.isStreaming
    assert env.columns == ["op", "ts", "ns", "data"]
    out = run_available_now(env.filter(F.col("data.event_type") == "purchase"))
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # nanos ts read as long in this raw read; count only
    assert out.count() == batch.filter("event_type = 'purchase'").count()


def test_windowed_counts_append_drops_nothing_in_complete_history(spark, sf_dir):
    """windowed_counts in append mode: with availableNow the final
    no-data batch advances the watermark to max(ts)-delay, so windows
    ENTIRELY below it are emitted; the trailing windows stay in state.
    This documents the append/complete trade the engine makes."""
    stream = stream_table(spark, sf_dir, "events")
    agg = windowed_counts(stream, ts_col="ts", window_duration="1 hour", watermark="2 hours")
    appended = run_available_now(agg, output_mode="append")
    batch_windows = (
        spark.read.parquet(f"{sf_dir}/events.parquet").count()
    )
    assert appended.count() > 0  # most history flushed
    # every emitted window matches the batch computation for that window
    ev = stream_table(spark, sf_dir, "events")
    full = run_available_now(
        windowed_counts(ev, "ts", "1 hour", "2 hours"), output_mode="complete"
    )
    emitted = {tuple(r) for r in appended.collect()}
    complete = {tuple(r) for r in full.collect()}
    assert emitted <= complete


def test_stateful_running_count_applyInPandasWithState(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running event count across micro-batches — the §2.5 'stateful aggs'
    capability the reference lacks entirely."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n_events", LongType())]
    )
    state_schema = StructType([StructField("count", LongType())])

    def count_events(key, pdf_iter, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    stream = stream_table(spark, sf_dir, "events")
    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = run_available_now(counted, output_mode="update")
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .count()
    )
    # last update per user must equal the batch count
    final = {r.user_id: r.n_events for r in got.collect()}
    for r in batch.collect():
        assert final[r.user_id] == r["count"]


def test_cdc_multi_epoch_apply(spark, sf_dir, tmp_path):
    """CDC apply across MULTIPLE micro-batches: events split into 3
    files, maxFilesPerTrigger=1 -> 3 epochs; the final table state must
    equal the single-batch (and batch-SQL) result. This exercises the
    copy->tail phase switch the reference manages with Flush commands
    and per-sink offsets (commitlog/logentry.go:76-96)."""
    import pyspark.sql.functions as F
    from transporter_spark.envelope import to_envelope
    from transporter_spark.streaming.cdc import cdc_upsert_sink
    from transporter_spark.streaming.state import run_foreach_batch_available_now

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # nanos ts: normalize like read_table does
    from transporter_spark.sources.files import read_table

    ev = read_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_split")
    ev.repartition(3).write.parquet(src_dir)

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    env = to_envelope(
        stream.withColumn("_op", op),
        ns="t",
        op_col="_op",
        ts_col="ts",
        payload_cols=["event_id", "user_id", "event_type", "value"],
    )
    target = str(tmp_path / "state")
    run_foreach_batch_available_now(
        env,
        cdc_upsert_sink(spark, target, keys=["user_id"], order_cols=["event_id"]),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    from transporter_spark.streaming.cdc import read_cdc_table

    got = {
        r.user_id: (r.event_id, r.event_type)
        for r in read_cdc_table(spark, target).collect()
    }

    # expected: latest event per user (ts, event_id tiebreak), dropped if delete
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    expected = {
        r.user_id: (r.event_id, r.event_type)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .filter("event_type <> 'error'")
        .collect()
    }
    assert got == expected


def test_cdc_out_of_order_batches_no_resurrection(spark):
    """An older change arriving in a LATER batch must not clobber newer
    state, and an older update after a delete must not resurrect the
    row — the two failure modes ordered one-at-a-time delivery hides
    and a distributed engine must handle explicitly (tombstones +
    retained _ts)."""
    from datetime import datetime

    t1, t2, t3 = datetime(2024, 1, 1), datetime(2024, 1, 2), datetime(2024, 1, 3)
    # batch 1 carries the NEWEST changes; batch 2 arrives later with older ones
    b1 = _env(spark, [("update", t3, 1, "newest"), ("delete", t2, 2, None)])
    b2 = _env(spark, [("update", t1, 1, "stale"), ("update", t1, 2, "zombie")])
    state = apply_cdc_batch(None, b1, keys=["user_id"])
    state = apply_cdc_batch(state, b2, keys=["user_id"])
    got = {r.user_id: r.v for r in live_rows(state).collect()}
    assert got == {1: "newest"}  # stale update ignored, no resurrection


def test_compact_tombstones_drops_only_expired_markers(spark):
    """Tombstone GC (the Kafka-compaction / Delta-vacuum contract):
    delete markers at-or-before the horizon are dropped, fresher ones
    and all live rows survive — and the retention bound is load-bearing:
    after compaction a staler-than-horizon update CAN resurrect, which
    is exactly why horizon must not exceed the source's replay lag."""
    from datetime import datetime

    from transporter_spark.streaming.cdc import compact_tombstones

    t1, t2, t3 = datetime(2024, 1, 1), datetime(2024, 1, 2), datetime(2024, 1, 3)
    b = _env(
        spark,
        [
            ("insert", t3, 1, "alive"),
            ("delete", t1, 2, None),   # expired tombstone
            ("delete", t3, 3, None),   # fresh tombstone
        ],
    )
    state = apply_cdc_batch(None, b, keys=["user_id"])
    compacted = compact_tombstones(state, t2)
    ops = {r.user_id: r._op for r in compacted.collect()}
    assert ops == {1: "live", 3: "delete"}  # expired marker gone
    assert {r.user_id for r in live_rows(compacted).collect()} == {1}

    # within-retention replay still safe: t1-or-older can no longer
    # arrive by the horizon contract, t2.5-aged changes still guard
    late = _env(spark, [("update", t2, 3, "zombie")])
    after = live_rows(apply_cdc_batch(compacted, late, keys=["user_id"]))
    assert {r.user_id for r in after.collect()} == {1}


def test_cdc_sink_commit_is_append_only_and_replay_safe(spark, tmp_path):
    """Round-4 LSM rebuild: each epoch appends ONE collapsed segment
    (pre-existing files byte-untouched — per-epoch IO ∝ batch, not
    state), a replayed epoch is a no-op, and merge-on-read equals the
    chained apply_cdc_batch state."""
    import os

    from datetime import datetime

    from transporter_spark.streaming.cdc import (
        cdc_upsert_sink,
        read_cdc_state,
        read_cdc_table,
    )
    from transporter_spark.streaming.state import SegmentStore

    t1, t2, t3 = datetime(2024, 1, 1), datetime(2024, 1, 2), datetime(2024, 1, 3)
    target = str(tmp_path / "cdc")
    sink = cdc_upsert_sink(spark, target, keys=["user_id"])
    store = SegmentStore(target)

    def files():
        out = {}
        root = os.path.join(target, "segments")
        for dp, _d, fs in os.walk(root):
            for f in fs:
                p = os.path.join(dp, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    sink(_env(spark, [("insert", t1, 1, "a"), ("insert", t1, 2, "b")]), 0)
    before = files()
    # epoch 1: newer update for 1, delete 2 — only a delta-e1 segment
    sink(_env(spark, [("update", t2, 1, "a2"), ("delete", t3, 2, None)]), 1)
    after = files()
    assert {k: after[k] for k in before} == before
    assert all(
        k.split(os.sep)[0] == "delta-e1" for k in after if k not in before
    )
    assert store.table_segments("delta") == ["delta-e0", "delta-e1"]
    # replay of epoch 1: no new segment, state unchanged
    sink(_env(spark, [("update", t2, 1, "DOUBLE"), ("delete", t3, 2, None)]), 1)
    assert files() == after
    # merge-on-read == chained apply_cdc_batch
    chained = apply_cdc_batch(
        apply_cdc_batch(
            None, _env(spark, [("insert", t1, 1, "a"), ("insert", t1, 2, "b")]),
            keys=["user_id"],
        ),
        _env(spark, [("update", t2, 1, "a2"), ("delete", t3, 2, None)]),
        keys=["user_id"],
    )
    got = {
        (r.user_id, r._op, r.v) for r in read_cdc_state(spark, target).collect()
    }
    want = {(r.user_id, r._op, r.v) for r in chained.collect()}
    assert got == want
    assert {(r.user_id, r.v) for r in read_cdc_table(spark, target).collect()} == {
        (1, "a2")
    }


def test_cdc_compaction_folds_segments_and_gcs_tombstones(spark, tmp_path):
    """compact_cdc_table: one segment after, identical live state, the
    expired tombstone gone (horizon), fresh tombstone retained; a
    pre-compaction reader still completes (one-commit retention)."""
    from datetime import datetime

    from transporter_spark.streaming.cdc import (
        cdc_upsert_sink,
        compact_cdc_table,
        read_cdc_state,
        read_cdc_table,
    )
    from transporter_spark.streaming.state import SegmentStore

    t1, t2, t3 = datetime(2024, 1, 1), datetime(2024, 1, 2), datetime(2024, 1, 3)
    target = str(tmp_path / "cdc")
    sink = cdc_upsert_sink(spark, target, keys=["user_id"])
    sink(_env(spark, [("insert", t1, 1, "a"), ("insert", t1, 3, "c")]), 0)
    sink(_env(spark, [("delete", t1, 3, None), ("update", t3, 1, "a3")]), 1)
    sink(_env(spark, [("delete", t3, 4, None)]), 2)

    lazy = read_cdc_table(spark, target)
    live_before = {(r.user_id, r.v) for r in lazy.collect()}
    assert compact_cdc_table(spark, target, tombstone_horizon=t2)
    store = SegmentStore(target)
    assert len(store.table_segments("delta")) == 1
    assert store.last_epoch() == 2  # compaction never advances the epoch
    assert {(r.user_id, r.v) for r in read_cdc_table(spark, target).collect()} == live_before
    ops = {r.user_id: r._op for r in read_cdc_state(spark, target).collect()}
    assert ops == {1: "live", 4: "delete"}  # user 3's expired marker GC'd
    # pre-compaction reader still completes (segments gc'd next commit)
    assert {(r.user_id, r.v) for r in lazy.collect()} == live_before
    # nothing further to fold; a horizon that expires nothing is ALSO a
    # no-op (no O(state) rewrite per maintenance call)
    assert not compact_cdc_table(spark, target)
    assert not compact_cdc_table(spark, target, tombstone_horizon=t2)
    # the fresh tombstone expires under a later horizon -> real work
    assert compact_cdc_table(spark, target, tombstone_horizon=t3)
    ops = {r.user_id: r._op for r in read_cdc_state(spark, target).collect()}
    assert ops == {1: "live"}


def test_cdc_sink_in_slot_compaction_bounds_segments(spark, tmp_path):
    """compact_every on the sink itself: the segment log folds inside
    the epoch slot once it reaches the bound (the only concurrency-safe
    place — the sink is the single writer)."""
    from datetime import datetime

    from transporter_spark.streaming.cdc import cdc_upsert_sink, read_cdc_table
    from transporter_spark.streaming.state import SegmentStore

    t = datetime(2024, 1, 1)
    target = str(tmp_path / "cdc")
    sink = cdc_upsert_sink(spark, target, keys=["user_id"], compact_every=2)
    for epoch in range(4):
        sink(_env(spark, [("insert", t, 100 + epoch, f"v{epoch}")]), epoch)
    store = SegmentStore(target)
    assert len(store.table_segments("delta")) < 4
    assert {(r.user_id, r.v) for r in read_cdc_table(spark, target).collect()} == {
        (100, "v0"), (101, "v1"), (102, "v2"), (103, "v3")
    }


def test_cdc_read_with_recorded_schema_equals_inferred_read(spark, tmp_path, jobs_of):
    """Each segment's parquet footer is the CDC state's schema record:
    the readers take the schema from the footers and start no Spark
    job. Differential: over 3 epochs, a compaction and one more epoch,
    the read equals the read of a copy whose manifest still carries the
    ``schema`` meta an older sink recorded (now ignored) and the
    inferred read of the same segments, in schema, column order and
    rows. After a widened epoch and a compaction, reads start no job
    again."""
    import json
    import shutil
    from datetime import datetime

    from transporter_spark.streaming.cdc import (
        cdc_upsert_sink,
        compact_cdc_table,
        read_cdc_state,
        read_cdc_table,
    )
    from transporter_spark.streaming.state import SegmentStore

    t = lambda d: datetime(2024, 1, d)
    epochs = [
        [("insert", t(1), 1, "a"), ("insert", t(1), 2, "b")],
        [("update", t(2), 1, "a2"), ("insert", t(2), 3, "c")],
        [("delete", t(3), 2, None), ("update", t(3), 3, "c2")],
        [("insert", t(4), 4, "d"), ("update", t(4), 1, "a4")],
    ]
    target = str(tmp_path / "cdc")
    sink = cdc_upsert_sink(spark, target, keys=["user_id"])
    store = SegmentStore(target)
    for e in (0, 1, 2):
        assert sink(_env(spark, epochs[e]), e)
    assert compact_cdc_table(spark, target)
    assert sink(_env(spark, epochs[3]), 3)
    assert "schema" not in store.meta()

    # the manifest an older sink wrote: the delta's schema as meta
    older = str(tmp_path / "older")
    shutil.copytree(target, older)
    m = json.load(open(SegmentStore(older).manifest_path))
    m["meta"]["schema"] = (
        apply_cdc_batch(None, _env(spark, epochs[3]), ["user_id"])
        .withColumn("_epoch", F.lit(3)).schema.json()
    )
    json.dump(m, open(SegmentStore(older).manifest_path, "w"))

    inferred = latest_per_key(
        spark.read.parquet(*store.table_paths("delta")),
        ["user_id"], ["_ts", "_epoch"],
    )

    def same(got, want):
        assert got.schema == want.schema
        assert got.columns == want.columns
        assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)

    for read in (read_cdc_state, read_cdc_table):
        given, jobs = jobs_of(lambda: read(spark, target))
        assert jobs == 0
        same(given, read(spark, older))
    same(read_cdc_state(spark, target), inferred)
    assert sorted(
        (r.user_id, r.v) for r in read_cdc_table(spark, target).collect()
    ) == [(1, "a4"), (3, "c2"), (4, "d")]

    # an epoch on the older state applies and reads alike
    assert cdc_upsert_sink(spark, older, keys=["user_id"])(
        _env(spark, [("insert", t(5), 5, "e")]), 4
    )
    assert read_cdc_table(spark, older).count() == 4

    # a payload with another schema, then a fold to one schema: the
    # read after the fold starts no job and keeps the new column
    wide = spark.createDataFrame(
        [("insert", t(5), 5, "e", 1.5)],
        "op string, ts timestamp, user_id long, v string, w double",
    ).select("op", "ts", F.lit("t").alias("ns"),
             F.struct("user_id", "v", "ts", "w").alias("data"))
    assert sink(wide, 4)
    assert sink(_env(spark, [("insert", t(6), 6, "f")]), 5)
    assert compact_cdc_table(spark, target)
    table, jobs = jobs_of(lambda: read_cdc_table(spark, target))
    assert jobs == 0
    assert sorted((r.user_id, r.w) for r in table.collect()) == [
        (1, None), (3, None), (4, None), (5, 1.5), (6, None)
    ]


def test_drains_remove_their_temp_checkpoints(spark, tmp_path, monkeypatch):
    """``run_foreach_batch_available_now`` and ``run_available_now``
    remove the temp checkpoint they create once the query ends (the
    memory-sink result still reads); a given checkpoint stays."""
    import tempfile

    from transporter_spark.streaming.state import run_foreach_batch_available_now

    src = tmp_path / "src"
    spark.range(5).write.parquet(str(src))
    temp_root = tmp_path / "tmp"
    temp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp_root))
    stream = lambda: spark.readStream.schema("id long").parquet(str(src))
    left = lambda: sorted(p.name for p in temp_root.glob("ts_ckpt_*"))

    assert run_foreach_batch_available_now(stream(), lambda b, e: True) == 1
    assert left() == []
    assert run_available_now(stream()).count() == 5
    assert left() == []
    kept = tmp_path / "kept"
    assert run_available_now(stream(), checkpoint_dir=str(kept)).count() == 5
    assert (kept / "offsets").is_dir()


def test_cdc_widened_epoch_keeps_its_columns(spark, tmp_path):
    """Epochs that wrote different payload schemas are read with a
    merged schema: a column added by a later epoch survives, null for
    the keys never updated after the widening, in the live read, the
    fold and the read after the fold. A type conflict between epochs
    raises instead of dropping a column."""
    from datetime import datetime

    from transporter_spark.streaming.cdc import (
        cdc_upsert_sink,
        compact_cdc_table,
        read_cdc_table,
    )

    def wide(rows, w_type="double"):
        return spark.createDataFrame(
            rows, f"op string, ts timestamp, user_id long, v string, w {w_type}"
        ).select("op", "ts", F.lit("t").alias("ns"),
                 F.struct("user_id", "v", "ts", "w").alias("data"))

    t = lambda d: datetime(2024, 1, d)
    target = str(tmp_path / "cdc")
    sink = cdc_upsert_sink(spark, target, keys=["user_id"])
    assert sink(_env(spark, [("insert", t(1), 1, "a"), ("insert", t(1), 2, "b")]), 0)
    assert sink(wide([("update", t(2), 2, "b2", 1.5), ("insert", t(2), 3, "c", 2.5)]), 1)
    want = [(1, "a", None), (2, "b2", 1.5), (3, "c", 2.5)]

    def rows():
        table = read_cdc_table(spark, target)
        assert "w" in table.columns
        return sorted((r.user_id, r.v, r.w) for r in table.collect())

    assert rows() == want
    assert compact_cdc_table(spark, target)
    assert rows() == want

    clash = str(tmp_path / "clash")
    sink = cdc_upsert_sink(spark, clash, keys=["user_id"])
    assert sink(wide([("insert", t(1), 1, "a", 1.5)]), 0)
    assert sink(wide([("insert", t(2), 2, "b", "x")], w_type="string"), 1)
    with pytest.raises(Exception, match="(?i)merg|incompatible|conflict"):
        read_cdc_table(spark, clash).collect()


def test_cdc_sink_refuses_other_keys_on_existing_state(spark, tmp_path):
    """A sink pointed at a CDC state built under other keys or order
    columns raises before it writes, instead of merging the old segments
    under the new keys; the state is left as it was."""
    from datetime import datetime

    from transporter_spark.streaming.cdc import cdc_upsert_sink, read_cdc_table
    from transporter_spark.streaming.state import SegmentStore

    t = datetime(2024, 1, 1)
    target = str(tmp_path / "cdc")
    assert cdc_upsert_sink(spark, target, keys=["user_id"])(
        _env(spark, [("insert", t, 1, "a"), ("insert", t, 2, "a")]), 0
    )
    manifest = open(SegmentStore(target).manifest_path).read()
    for kw in ({"keys": ["v"]}, {"keys": ["user_id"], "order_cols": ["v"]}):
        with pytest.raises(ValueError, match="refusing an epoch"):
            cdc_upsert_sink(spark, target, **kw)(_env(spark, [("insert", t, 3, "b")]), 1)
    assert open(SegmentStore(target).manifest_path).read() == manifest
    assert read_cdc_table(spark, target).count() == 2
    # the same keys keep applying
    assert cdc_upsert_sink(spark, target, keys=["user_id"])(
        _env(spark, [("insert", t, 3, "b")]), 1
    )


def _centroids(spark, sf_dir):
    from transporter_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )


def test_ann_sink_multi_epoch_equals_batch_index(spark, sf_dir, tmp_path):
    """3-epoch drain of the embeddings through the ANN sink == batch
    ivf_index over everything (fixed centroids make assignment pure, so
    epoch boundaries can't leak); commits are append-only (pre-existing
    files byte-identical); a re-delivered vector is dropped by id."""
    import os

    from transporter_spark.operators.similarity import ivf_index
    from transporter_spark.sources.files import read_table
    from transporter_spark.streaming.vectors import (
        ann_index_batch,
        read_ann_index,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cen = _centroids(spark, sf_dir)
    state = str(tmp_path / "ann")

    def files():
        out = {}
        root = os.path.join(state, "segments")
        for dp, _d, fs in os.walk(root):
            for f in fs:
                p = os.path.join(dp, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    for epoch in range(3):
        before = files() if epoch else {}
        assert ann_index_batch(
            emb.filter(F.col("vec_id") % 3 == epoch), epoch, state, cen, round_dp=8
        )
        after = files()
        assert {k: after[k] for k in before} == before  # append-only
    # replay + re-delivery: epoch 3 re-ships epoch-0 vectors -> all
    # dropped by the id guard, nothing appended
    n = read_ann_index(spark, state).count()
    assert not ann_index_batch(
        emb.filter(F.col("vec_id") % 3 == 0), 3, state, cen, round_dp=8
    )
    got = read_ann_index(spark, state)
    assert got.count() == n == emb.count()
    expect = ivf_index(emb, cen, round_dp=8)
    assert sorted((r.vec_id, r.cell) for r in got.collect()) == sorted(
        (r.vec_id, r.cell) for r in expect.collect()
    )


def test_ann_sink_compaction_and_search(spark, sf_dir, tmp_path):
    """compact_ann_index folds the log content-preservingly, and
    searching the maintained index equals searching the batch index."""
    from transporter_spark.operators.similarity import ann_ivf, ann_ivf_search
    from transporter_spark.sources.files import read_table
    from transporter_spark.streaming.state import SegmentStore
    from transporter_spark.streaming.vectors import (
        ann_index_batch,
        compact_ann_index,
        read_ann_index,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cen = _centroids(spark, sf_dir)
    state = str(tmp_path / "ann")
    for epoch in range(2):
        ann_index_batch(
            emb.filter(F.col("vec_id") % 2 == epoch), epoch, state, cen, round_dp=8
        )
    assert compact_ann_index(spark, state)
    assert not compact_ann_index(spark, state)
    store = SegmentStore(state)
    assert all(len(store.table_segments(t)) == 1 for t in ("cells", "ids"))

    queries = emb.filter(F.col("vec_id") < 10)
    got = ann_ivf_search(
        read_ann_index(spark, state), queries, cen, k=5, nprobe=2, round_dp=8
    )
    expect = ann_ivf(emb, queries, cen, k=5, nprobe=2, round_dp=8)
    canon = lambda df: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, float(r.cosine), r.rank) for r in df.collect()
    )
    assert canon(got) == canon(expect)


def test_stream_drop_duplicates_removes_reingested_rows(spark, sf_dir, tmp_path):
    """dropDuplicates on a stream: re-ingesting the same rows in a
    later file yields no new output rows (state remembers keys)."""
    ev = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    )
    src = str(tmp_path / "src")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .dropDuplicates(["id"])
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.json(out).count()

    assert drain() == 2
    # append a file that re-ingests id=1 plus a new id=3
    spark.createDataFrame([(1, "a"), (3, "c")], "id long, v string").coalesce(
        1
    ).write.mode("append").parquet(src)
    assert drain() == 3  # only id=3 added; duplicate id=1 suppressed


def test_incremental_rollup_equals_batch_recompute(spark, tmp_path):
    """Continuous-aggregate refresh: hourly partials maintained over 2
    micro-batches, daily derived from them, must equal rollup_lattice
    recomputed over ALL raw rows — bit-for-bit (decimal partials are
    associative, so batch boundaries can't leak into results)."""
    import json as _json

    from transporter_spark.operators.temporal import rollup_lattice
    from transporter_spark.streaming.windows import (
        incremental_rollup_sink,
        read_rollup_state,
        rollup_daily_from_state,
    )

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"ts": f"2024-01-0{1 + i % 2}T{i % 24:02d}:15:00", "k": f"g{i % 3}", "value": 0.1 * i}
        for i in range(48)
    ]
    (src / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows[:30]) + "\n")
    (src / "b.jsonl").write_text("\n".join(_json.dumps(r) for r in rows[30:]) + "\n")

    schema = "ts timestamp, k string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    state = str(tmp_path / "hourly_state")
    incremental_rollup_sink(
        stream, state, checkpoint_dir=str(tmp_path / "ckpt"), keys=("k",)
    )

    batch = spark.read.schema(schema).json(str(src))
    expect = rollup_lattice(batch, ts="ts", keys=("k",), value="value")

    def canon(df):
        return sorted(
            (str(r[0]), r[1], str(r[2]), int(r[3])) for r in df.collect()
        )

    got_hourly = read_rollup_state(spark, state).select("hour", "k", "sum_value", "n")
    assert canon(got_hourly) == canon(
        expect["hourly"].select("hour", "k", "sum_value", "n")
    )
    got_daily = rollup_daily_from_state(spark, state, keys=("k",)).select(
        "day", "k", "sum_value", "n"
    )
    assert canon(got_daily) == canon(
        expect["daily"].select("day", "k", "sum_value", "n")
    )


def test_incremental_rollup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the state commit
    but before the checkpoint commit re-delivers the SAME epoch on
    restart. The epoch in the manifest (committed atomically with the
    segment mapping it describes) must make the replayed merge a no-op
    — no double-counted sums or n."""
    from transporter_spark.streaming.windows import (
        read_rollup_state,
        rollup_merge_batch,
    )

    batch = spark.createDataFrame(
        [("2024-01-01T05:15:00", "g0", 1.5), ("2024-01-01T05:45:00", "g0", 2.5)],
        "ts string, k string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = str(tmp_path / "hourly_state")

    assert rollup_merge_batch(batch, 0, state, keys=("k",)) is True
    first = sorted(map(tuple, read_rollup_state(spark, state).collect()))
    # crash-replay of epoch 0: skipped, state bit-identical
    assert rollup_merge_batch(batch, 0, state, keys=("k",)) is False
    assert sorted(map(tuple, read_rollup_state(spark, state).collect())) == first
    # a genuinely new epoch still merges
    assert rollup_merge_batch(batch, 1, state, keys=("k",)) is True
    [(_, _, s, n)] = read_rollup_state(spark, state).collect()
    assert float(s) == 8.0 and n == 4


def test_rollup_delta_merge_touches_only_batch_hours(spark, tmp_path):
    """SCALE.md's delta-merge claim, now structural (VERDICT r3 item
    4): an epoch reads only the segments its hour keys map to, writes
    one segment holding only those hours, and leaves every other hour's
    files byte-untouched."""
    import os

    from transporter_spark.streaming.state import SegmentStore
    from transporter_spark.streaming.windows import (
        read_rollup_state,
        rollup_merge_batch,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "ts string, k string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    state = str(tmp_path / "hourly_state")
    # epoch 0: 24 hours of data
    rollup_merge_batch(
        mk([(f"2024-01-01T{h:02d}:10:00", "g", 1.0) for h in range(24)]),
        0, state, keys=("k",),
    )
    store = SegmentStore(state)

    def files():
        out = {}
        root = os.path.join(state, "segments")
        for dp, _d, fs in os.walk(root):
            for f in fs:
                p = os.path.join(dp, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    before = files()
    # epoch 1 touches ONE hour
    rollup_merge_batch(mk([("2024-01-01T05:20:00", "g", 2.0)]), 1, state, keys=("k",))
    after = files()
    assert {k: after[k] for k in before} == before  # untouched hours intact
    new = [k for k in after if k not in before]
    assert new and all(k.split(os.sep)[0] == "hourly-e1" for k in new)
    # the new segment holds ONLY the touched hour
    seg = spark.read.parquet(store.seg_path("hourly-e1"))
    assert [str(r.hour) for r in seg.select("hour").distinct().collect()] == [
        "2024-01-01 05:00:00"
    ]
    # manifest: only the touched key remaps; reads prune to mapped
    # segments. Keys are the hour's epoch seconds (timezone-immune).
    from datetime import datetime, timezone

    def key(h):
        return str(int(datetime(2024, 1, 1, h, tzinfo=timezone.utc).timestamp()))

    mapping = store.keyed_mapping("hourly")
    assert mapping[key(5)] == "hourly-e1"
    assert all(v == "hourly-e0" for k, v in mapping.items() if k != key(5))
    assert store.keyed_paths("hourly", [key(7)]) == {"hourly-e0": [key(7)]}
    # merged values are exact; the stale hour-05 row in e0 is invisible
    rows = {
        str(r.hour): (float(r.sum_value), r.n)
        for r in read_rollup_state(spark, state).collect()
    }
    assert rows["2024-01-01 05:00:00"] == (3.0, 2)
    assert rows["2024-01-01 06:00:00"] == (1.0, 1)
    assert len(rows) == 24


def test_rollup_sink_in_slot_compaction(spark, tmp_path):
    """compact_every on the rollup sink: a 3-epoch drain folds the
    keyed log on schedule, state content identical to an uncompacted
    drain, segment count bounded."""
    import json as _json

    from transporter_spark.streaming.state import SegmentStore
    from transporter_spark.streaming.windows import (
        incremental_rollup_sink,
        read_rollup_state,
    )

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"ts": f"2024-01-01T{i % 24:02d}:15:00", "k": f"g{i % 2}", "value": 0.5 * i}
        for i in range(30)
    ]
    for i in range(3):
        (src / f"{i}.jsonl").write_text(
            "\n".join(_json.dumps(r) for r in rows[i * 10:(i + 1) * 10]) + "\n"
        )
    schema = "ts timestamp, k string, value double"

    def drain(state, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        incremental_rollup_sink(
            stream, state, checkpoint_dir=str(tmp_path / f"ckpt{state[-1]}"),
            keys=("k",), **kw
        )
        return sorted(map(tuple, read_rollup_state(spark, state).collect()))

    plain = drain(str(tmp_path / "p"))
    compacted = drain(str(tmp_path / "c"), compact_every=2)
    assert compacted == plain
    n_plain = len(set(SegmentStore(str(tmp_path / "p")).keyed_mapping("hourly").values()))
    n_comp = len(set(SegmentStore(str(tmp_path / "c")).keyed_mapping("hourly").values()))
    assert n_comp < n_plain == 3


def test_rollup_rejects_foreign_seg_key_format(spark, tmp_path):
    """A state whose hour-key derivation differs from this engine's
    fails LOUDLY at merge time — a silent mismatch would split the same
    hour across two keys and duplicate rows per hour forever."""
    import pytest

    from transporter_spark.streaming.state import SegmentStore
    from transporter_spark.streaming.windows import rollup_merge_batch

    batch = spark.createDataFrame(
        [("2024-01-01T05:15:00", "g", 1.0)], "ts string, k string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    state = str(tmp_path / "hourly_state")
    assert rollup_merge_batch(batch, 0, state, keys=("k",))
    store = SegmentStore(state)
    store.commit(store.last_epoch(), meta={"seg_key": "legacy-date-string"})
    with pytest.raises(ValueError, match="seg_key format"):
        rollup_merge_batch(batch, 1, state, keys=("k",))


def test_rollup_compaction_drops_stale_rows(spark, tmp_path):
    """compact_rollup_state: one segment, stale rows gone for good,
    content identical, epoch unchanged."""
    from transporter_spark.streaming.state import SegmentStore
    from transporter_spark.streaming.windows import (
        compact_rollup_state,
        read_rollup_state,
        rollup_merge_batch,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "ts string, k string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    state = str(tmp_path / "hourly_state")
    rollup_merge_batch(
        mk([("2024-01-01T05:10:00", "g", 1.0), ("2024-01-01T06:10:00", "g", 1.0)]),
        0, state, keys=("k",),
    )
    rollup_merge_batch(mk([("2024-01-01T05:20:00", "g", 2.0)]), 1, state, keys=("k",))
    before = sorted(map(tuple, read_rollup_state(spark, state).collect()))
    assert compact_rollup_state(spark, state)
    store = SegmentStore(state)
    assert len(set(store.keyed_mapping("hourly").values())) == 1
    assert store.last_epoch() == 1
    assert sorted(map(tuple, read_rollup_state(spark, state).collect())) == before
    # already compact -> no-op
    assert not compact_rollup_state(spark, state)
    # compacted segment no longer carries the stale epoch-0 hour-05 row
    [seg] = set(store.keyed_mapping("hourly").values())
    raw = spark.read.parquet(store.seg_path(seg))
    assert raw.count() == 2


def test_kmeans_sink_multi_epoch_equals_batch_update(spark, sf_dir, tmp_path):
    """3-epoch drain of the embeddings through the centroid-partial
    sink == batch kmeans_update over everything, bit-for-bit (decimal
    partials are associative, so epoch boundaries can't change sums);
    a replayed epoch is a no-op; state stays k x dims rows."""
    from transporter_spark.operators.similarity import kmeans_update
    from transporter_spark.sources.files import read_table
    from transporter_spark.streaming.kmeans import (
        kmeans_merge_batch,
        read_kmeans_state,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cen = _centroids(spark, sf_dir)
    state = str(tmp_path / "km")
    for epoch in range(3):
        assert kmeans_merge_batch(
            emb.filter(F.col("vec_id") % 3 == epoch), epoch, state, cen
        )
    # replay of epoch 2 is a no-op (manifest epoch guard)
    before = read_kmeans_state(spark, state).collect()
    assert not kmeans_merge_batch(
        emb.filter(F.col("vec_id") % 3 == 2), 2, state, cen
    )
    got = read_kmeans_state(spark, state)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, before))
    expect = kmeans_update(emb, cen)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )
    assert got.count() == expect.count()  # k x dims, not per-vector


def test_kmeans_sink_delta_merge_touches_only_batch_cells(spark, tmp_path):
    """Epochs that hit DISJOINT cells leave the untouched cells'
    segments alone (keyed manifest: each cell maps to the segment that
    last wrote it); compaction then folds the split log to one segment
    without changing what the reader sees. (When a batch touches every
    cell — the common small-k case — each merge already collapses the
    table and compaction is a no-op by design.)"""
    from transporter_spark.streaming.kmeans import (
        compact_kmeans_state,
        kmeans_merge_batch,
        read_kmeans_state,
    )
    from transporter_spark.streaming.state import SegmentStore

    # two orthogonal centroids; epoch i's vectors sit on centroid i
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    state = str(tmp_path / "km2")
    for epoch, vec in enumerate(([1.0, 0.05], [0.05, 1.0])):
        batch = spark.createDataFrame(
            [(epoch * 10 + i, vec) for i in range(3)],
            "vec_id long, embedding array<float>",
        )
        assert kmeans_merge_batch(batch, epoch, state, cen)
    store = SegmentStore(state)
    mapping = store.keyed_mapping("partials")
    # cell 0 still maps to epoch-0's segment: epoch 1 never rewrote it
    assert mapping["0"] == "partials-e0" and mapping["1"] == "partials-e1"
    before = sorted(map(tuple, read_kmeans_state(spark, state).collect()))
    assert compact_kmeans_state(spark, state)
    after = sorted(map(tuple, read_kmeans_state(spark, state).collect()))
    assert after == before
    live = set(SegmentStore(state).keyed_mapping("partials").values())
    assert len(live) == 1
    assert not compact_kmeans_state(spark, state)  # already compact


def test_semdedup_sink_first_wins_redelivery_idempotent_append_only(
    spark, tmp_path
):
    """The continuous SemDeDup loop on a hand-built space: epoch 1's
    canonical survives; an epoch-2 near-dup of it is REJECTED even
    with a lower centroid similarity (first-wins, the cross-epoch
    contract); a genuinely novel epoch-2 vector is kept; RE-DELIVERING
    a kept vector under a new epoch is a no-op (it near-dups itself at
    cosine 1.0 — the at-least-once-safe property the SUM sinks lack);
    same-epoch replay is a manifest no-op; commits are append-only;
    and a threshold-mismatched epoch raises."""
    import os

    import pytest

    from transporter_spark.streaming.vectors import (
        read_semdedup_kept,
        semdedup_merge_batch,
    )

    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    state = str(tmp_path / "semdd")

    def files():
        out = {}
        root = os.path.join(state, "segments")
        for dp, _d, fs in os.walk(root):
            for f in fs:
                p = os.path.join(dp, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    e1 = spark.createDataFrame(
        [(10, [0.9, 0.10]), (11, [0.9, 0.08])],
        "vec_id long, embedding array<double>",
    )
    assert semdedup_merge_batch(e1, 0, state, cen, threshold=0.99)
    kept1 = {r.vec_id for r in read_semdedup_kept(spark, state).collect()}
    assert kept1 == {10}  # 10/11 collapse; 10 has the lower centroid sim

    before = files()
    # epoch 2: 20 near-dups the KEPT 10 (rejected, first-wins);
    # 21 is novel in the other cell (kept)
    e2 = spark.createDataFrame(
        [(20, [0.9, 0.11]), (21, [0.1, 0.95])],
        "vec_id long, embedding array<double>",
    )
    assert semdedup_merge_batch(e2, 1, state, cen, threshold=0.99)
    after = files()
    assert {k: after[k] for k in before} == before  # append-only
    kept2 = {r.vec_id for r in read_semdedup_kept(spark, state).collect()}
    assert kept2 == {10, 21}

    # same-epoch replay: manifest no-op
    assert not semdedup_merge_batch(e2, 1, state, cen, threshold=0.99)
    # cross-epoch re-delivery of a KEPT vector: rejected by itself
    redeliver = spark.createDataFrame(
        [(10, [0.9, 0.10])], "vec_id long, embedding array<double>"
    )
    assert semdedup_merge_batch(redeliver, 2, state, cen, threshold=0.99)
    kept3 = sorted(
        (r.vec_id, r.cell)
        for r in read_semdedup_kept(spark, state).collect()
    )
    assert kept3 == [(10, 0), (21, 1)]

    with pytest.raises(ValueError, match="sem_threshold"):
        semdedup_merge_batch(e1, 3, state, cen, threshold=0.5)


def test_semdedup_compaction_folds_kept_log_and_keeps_guard_meta(
    spark, tmp_path
):
    """compact_semdedup_state folds the per-epoch kept segments to ONE
    content-identical segment, and the threshold/round_dp guard params
    survive the compaction commit (meta-merge) — a post-compaction
    mismatched epoch still raises."""
    import pytest

    from transporter_spark.streaming.state import SegmentStore
    from transporter_spark.streaming.vectors import (
        compact_semdedup_state,
        read_semdedup_kept,
        semdedup_merge_batch,
    )

    cen = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    state = str(tmp_path / "semdd")
    for epoch, rows in enumerate(
        [[(1, [0.9, 0.1])], [(2, [0.1, 0.9])], [(3, [1.0, -0.8])]]
    ):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        assert semdedup_merge_batch(df, epoch, state, cen, threshold=0.99)
    before = sorted(
        map(tuple, read_semdedup_kept(spark, state).collect())
    )
    assert compact_semdedup_state(spark, state)
    assert not compact_semdedup_state(spark, state)  # already compact
    store = SegmentStore(state)
    assert len(store.table_segments("kept")) == 1
    after = sorted(map(tuple, read_semdedup_kept(spark, state).collect()))
    assert after == before
    with pytest.raises(ValueError, match="sem_threshold"):
        semdedup_merge_batch(
            spark.createDataFrame(
                [(9, [0.5, 0.5])], "vec_id long, embedding array<double>"
            ),
            9, state, cen, threshold=0.5,
        )


def test_pq_index_sink_multi_epoch_equals_batch_and_redelivery_guard(
    spark, sf_dir, tmp_path
):
    """3-epoch drain of the embeddings through the residual-PQ sink ==
    one-pass ivfpq_residual_index row-for-row (fixed centroids AND
    codebooks make the encode pure per-vector, so epoch boundaries
    cannot leak); commits are append-only; a re-delivered vector is
    dropped by the id guard; replay is a manifest no-op."""
    import os

    from transporter_spark.operators.similarity import (
        ivfpq_residual_index,
        pq_codebooks,
        pq_residual_frame,
    )
    from transporter_spark.sources.files import read_table
    from transporter_spark.streaming.vectors import (
        pq_index_batch,
        read_pq_index,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cen = _centroids(spark, sf_dir)
    seeds = pq_residual_frame(
        emb.filter(F.col("vec_id") < 16), cen, round_dp=8
    )
    cbs = pq_codebooks(seeds, m=4, vec_col="rvec")
    state = str(tmp_path / "pq")

    def files():
        out = {}
        root = os.path.join(state, "segments")
        for dp, _d, fs in os.walk(root):
            for f in fs:
                p = os.path.join(dp, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
        return out

    for epoch in range(3):
        before = files() if epoch else {}
        assert pq_index_batch(
            emb.filter(F.col("vec_id") % 3 == epoch), epoch, state, cen,
            cbs, m=4, round_dp=8,
        )
        after = files()
        assert {k: after[k] for k in before} == before  # append-only
    n = read_pq_index(spark, state).count()
    # re-delivery under a NEW epoch: dropped by the id guard
    assert not pq_index_batch(
        emb.filter(F.col("vec_id") % 3 == 0), 3, state, cen, cbs,
        m=4, round_dp=8,
    )
    # same-epoch replay (the LAST epoch — a backwards counter raises,
    # the SegmentStore contract): manifest no-op
    assert not pq_index_batch(
        emb.filter(F.col("vec_id") % 3 == 2), 2, state, cen, cbs,
        m=4, round_dp=8,
    )
    got = read_pq_index(spark, state)
    assert got.count() == n
    expect = ivfpq_residual_index(emb, cen, cbs, m=4, round_dp=8)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_cdc_replay_after_out_of_band_compaction_keeps_its_segment(
    spark, tmp_path, monkeypatch
):
    """Crash after the epoch-2 segment write, fold the log out of band
    (the sink is stopped, so `transporter state compact` may run), then
    Spark replays epoch 2 under the same id. The fold swept the orphan
    ``delta-e2`` onto ``gc``; the replay rewrites it and its commit must
    keep it — the table equals DuckDB last-writer-wins over every
    change."""
    from datetime import datetime

    import duckdb

    from transporter_spark.streaming.cdc import (
        cdc_upsert_sink,
        compact_cdc_table,
        read_cdc_table,
    )
    from transporter_spark.streaming.state import SegmentStore

    t = lambda d: datetime(2024, 1, d)
    epochs = [
        [("insert", t(1), 1, "a"), ("insert", t(1), 2, "b")],
        [("update", t(2), 1, "a2"), ("insert", t(2), 3, "c")],
        [("delete", t(3), 2, None), ("update", t(3), 3, "c2")],
    ]
    target = str(tmp_path / "cdc")
    sink = cdc_upsert_sink(spark, target, keys=["user_id"])
    sink(_env(spark, epochs[0]), 0)
    sink(_env(spark, epochs[1]), 1)

    def crash(*a, **kw):
        raise RuntimeError("crash before commit")

    with monkeypatch.context() as m:
        m.setattr(SegmentStore, "commit", crash)
        with pytest.raises(RuntimeError, match="crash before commit"):
            sink(_env(spark, epochs[2]), 2)
    assert compact_cdc_table(spark, target) is True
    assert "delta-e2" in SegmentStore(target).manifest()["gc"]
    sink(_env(spark, epochs[2]), 2)  # the replay

    con = duckdb.connect()
    con.execute("CREATE TABLE ch (op VARCHAR, ts TIMESTAMP, user_id BIGINT, v VARCHAR)")
    con.executemany(
        "INSERT INTO ch VALUES (?, ?, ?, ?)", [r for e in epochs for r in e]
    )
    want = con.execute(
        "SELECT user_id, v FROM (SELECT *, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts DESC) AS rn FROM ch) "
        "WHERE rn = 1 AND op <> 'delete' ORDER BY user_id"
    ).fetchall()
    got = sorted(
        (r.user_id, r.v) for r in read_cdc_table(spark, target).collect()
    )
    assert got == want == [(1, "a2"), (3, "c2")]
