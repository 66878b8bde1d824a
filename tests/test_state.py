"""SegmentStore unit contract: atomic manifest commits, one-commit GC
delay, crash-orphan collection (the machinery under the append-only
ingest sink and the hour-scoped rollup — streaming/state.py)."""

from __future__ import annotations

import os

import pytest

from transporter_spark.streaming.state import SegmentStore


def _write(spark, store, name, rows):
    spark.createDataFrame(rows, "id long, v string").write.mode(
        "overwrite"
    ).parquet(store.seg_path(name))


def test_list_table_append_and_read(spark, tmp_path):
    store = SegmentStore(str(tmp_path / "st"))
    _write(spark, store, "t-e0", [(1, "a")])
    store.commit(0, tables={"t": ["t-e0"]})
    _write(spark, store, "t-e1", [(2, "b")])
    store.commit(1, tables={"t": ["t-e0", "t-e1"]})
    assert store.last_epoch() == 1
    assert sorted(r.id for r in store.read(spark, "t").collect()) == [1, 2]
    assert store.read(spark, "missing") is None


def test_dropped_segment_survives_one_commit_then_purged(spark, tmp_path):
    """A segment replaced by a commit stays on disk (a reader holding
    the previous manifest's paths can finish) and is deleted by the
    NEXT commit — the same retention ADVICE r3 asked of swap_current."""
    store = SegmentStore(str(tmp_path / "st"))
    _write(spark, store, "t-e0", [(1, "a")])
    store.commit(0, tables={"t": ["t-e0"]})
    reader = spark.read.parquet(*store.table_paths("t"))  # resolves t-e0
    _write(spark, store, "t-c1", [(1, "a")])
    store.commit(1, tables={"t": ["t-c1"]})  # t-e0 dropped -> gc list
    assert store.manifest()["gc"] == ["t-e0"]
    assert os.path.isdir(store.seg_path("t-e0"))
    assert reader.count() == 1  # old-manifest reader still completes
    _write(spark, store, "t-e2", [(2, "b")])
    store.commit(2, tables={"t": ["t-c1", "t-e2"]})  # purges t-e0
    assert not os.path.exists(store.seg_path("t-e0"))


def test_crash_orphan_is_garbage_collected(spark, tmp_path):
    """A segment written by a crashed attempt (never referenced by any
    manifest) is swept into gc by the next successful commit and purged
    by the one after."""
    store = SegmentStore(str(tmp_path / "st"))
    _write(spark, store, "t-e0", [(1, "a")])
    store.commit(0, tables={"t": ["t-e0"]})
    _write(spark, store, "t-e1", [(9, "crash")])  # crash before commit
    _write(spark, store, "t-e1b", [(2, "b")])     # retry under a new name
    store.commit(1, tables={"t": ["t-e0", "t-e1b"]})
    assert store.manifest()["gc"] == ["t-e1"]
    _write(spark, store, "t-e2", [(3, "c")])
    store.commit(2, tables={"t": ["t-e0", "t-e1b", "t-e2"]})
    assert not os.path.exists(store.seg_path("t-e1"))
    assert sorted(r.id for r in store.read(spark, "t").collect()) == [1, 2, 3]


def test_commit_preserves_unnamed_tables_and_keyed(spark, tmp_path):
    """Complete-dict semantics per table: a commit naming only table A
    leaves table B's segments and every keyed mapping untouched."""
    store = SegmentStore(str(tmp_path / "st"))
    _write(spark, store, "a-e0", [(1, "a")])
    _write(spark, store, "b-e0", [(2, "b")])
    store.commit(0, tables={"a": ["a-e0"], "b": ["b-e0"]}, keyed={"k": {"x": "b-e0"}})
    _write(spark, store, "a-e1", [(3, "c")])
    store.commit(1, tables={"a": ["a-e0", "a-e1"]})
    m = store.manifest()
    assert m["tables"]["b"] == ["b-e0"]
    assert m["keyed"]["k"] == {"x": "b-e0"}
    assert m["gc"] == []


def test_epoch_regression_raises_instead_of_dropping(spark, tmp_path):
    """epoch_already_applied: same-epoch replay skips, but a BACKWARDS
    epoch counter (fresh checkpoint against existing state) raises —
    silently skipping would discard genuinely new batches until the
    counter caught up."""
    import pytest

    store = SegmentStore(str(tmp_path / "st"))
    assert store.epoch_already_applied(0) is False  # no state yet
    _write(spark, store, "t-e5", [(1, "a")])
    store.commit(5, tables={"t": ["t-e5"]})
    assert store.epoch_already_applied(5) is True   # replay of last
    assert store.epoch_already_applied(6) is False  # next epoch
    with pytest.raises(ValueError, match="epoch counter went backwards"):
        store.epoch_already_applied(0)


def test_fresh_name_skips_existing_dirs(spark, tmp_path):
    store = SegmentStore(str(tmp_path / "st"))
    _write(spark, store, "t-compact0", [(1, "a")])
    assert store.fresh_name("t-compact0") == "t-compact0.1"


def test_gc_purge_spares_a_rewritten_segment(tmp_path):
    """A deterministic segment name can come back after it was put on
    ``gc``: an epoch's write crashes before its commit, an out-of-band
    fold (``transporter state compact``) sweeps the orphan onto ``gc``,
    and Spark then replays that epoch under the same id, rewriting the
    same name. The replay's commit must not purge the segment it just
    referenced. Filesystem only: directories stand in for parquet."""
    store = SegmentStore(str(tmp_path / "st"))

    def write(name):
        os.makedirs(store.seg_path(name), exist_ok=True)

    for e in (0, 1):
        write(f"delta-e{e}")
        store.commit(e, tables={"delta": store.table_segments("delta") + [f"delta-e{e}"]})
    write("delta-e2")  # crash before the epoch-2 commit
    write("delta-compact1")  # the out-of-band fold
    store.commit(1, tables={"delta": ["delta-compact1"]})
    assert "delta-e2" in store.manifest()["gc"]
    write("delta-e2")  # replay of epoch 2 rewrites the same name
    store.commit(2, tables={"delta": ["delta-compact1", "delta-e2"]})
    assert store.table_segments("delta") == ["delta-compact1", "delta-e2"]
    assert all(os.path.isdir(p) for p in store.table_paths("delta"))
    # the folded-away epoch segments are still purged one commit later
    assert not os.path.exists(store.seg_path("delta-e0"))
    assert store.manifest()["gc"] == []


# -- the shared epoch slot ------------------------------------------------
#
# One contract, run against a list-table sink with the id re-delivery
# guard (vocab), the list-table CDC sink and a keyed delta-merge sink
# (rollup). Epoch i's rows carry ids 10*i.. and sit in hour i, so every
# epoch adds one segment to the family's log table.


def _epoch_rows(i):
    from datetime import datetime

    return [
        (10 * i + j, datetime(2024, 1, 1, i, j), float(j), f"w{i} x{j} y")
        for j in range(3)
    ]


_ROW_SCHEMA = "id long, ts timestamp, value double, text string"


def _slot_family(name, spark, state):
    """(batch fn of (rows frame, epoch), log table, compactor)."""
    from transporter_spark.envelope import to_envelope
    from transporter_spark.streaming import cdc, vocab, windows

    if name == "vocab":
        return (
            lambda b, e: vocab.vocab_batch(b, e, state, id_col="id"),
            "wc",
            vocab.compact_vocab_state,
        )
    if name == "cdc":
        sink = cdc.cdc_upsert_sink(spark, state, keys=["id"])
        return (
            lambda b, e: sink(
                to_envelope(b, ns="t", ts_col="ts", payload_cols=["id", "value"]), e
            ),
            "delta",
            cdc.compact_cdc_table,
        )
    return (
        lambda b, e: windows.rollup_merge_batch(b, e, state),
        "hourly",
        windows.compact_rollup_state,
    )


@pytest.mark.parametrize("family", ["vocab", "cdc", "rollup"])
def test_epoch_slot_contract(spark, tmp_path, family):
    """Every sink's epoch slot, one contract: an empty epoch commits
    nothing; a replayed epoch leaves MANIFEST.json byte-identical; a
    backwards epoch raises; ``compact_every=N`` folds the log table
    exactly when it reaches N segments; and the drain returns the
    number of non-empty, non-replayed epochs, a skipped-empty leading
    batch and a Spark-replayed batch included."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transporter_spark.streaming.state import (
        epoch_sink,
        run_foreach_batch_available_now,
    )

    state = str(tmp_path / "state")
    store = SegmentStore(state)
    batch_fn, log_table, compactor = _slot_family(family, spark, state)
    slot = epoch_sink(batch_fn, state, log_table, compactor, compact_every=3)
    frame = lambda i: spark.createDataFrame(_epoch_rows(i), _ROW_SCHEMA)

    assert slot(spark.createDataFrame([], _ROW_SCHEMA), 0) is False
    assert store.manifest() is None  # empty epoch: nothing committed
    assert slot(frame(0), 0) is True
    manifest = open(store.manifest_path, "rb").read()
    assert slot(frame(0), 0) is False  # replay
    assert open(store.manifest_path, "rb").read() == manifest
    sizes = [store.log_size(log_table)]
    for e in (1, 2, 3):
        assert slot(frame(e), e) is True
        sizes.append(store.log_size(log_table))
    # 1, 2, then the third segment triggers the fold, then one more
    assert sizes == [1, 2, 1, 2]
    with pytest.raises(ValueError, match="epoch counter went backwards"):
        slot(frame(9), 1)

    # the drain: an empty leading file, then three non-empty epochs
    src = tmp_path / "src"
    src.mkdir()
    schema = pa.schema(
        [("id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
         ("value", pa.float64()), ("text", pa.string())]
    )
    for k, rows in enumerate([[]] + [_epoch_rows(i) for i in (4, 5, 6)]):
        path = str(src / f"f{k}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        ), path)
        os.utime(path, (1_700_000_000 + 10 * k,) * 2)
    stream = (
        spark.readStream.schema(_ROW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    drained = str(tmp_path / "drained")
    fn, log_table, compactor = _slot_family(family, spark, drained)
    ckpt = str(tmp_path / "ckpt")
    drain = lambda: run_foreach_batch_available_now(
        stream, epoch_sink(fn, drained, log_table, compactor), ckpt
    )
    assert drain() == 3
    # drop the last offset commit: the restart re-runs that batch
    # under the same id, the slot skips it, and the count says so
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, name))
    manifest = open(SegmentStore(drained).manifest_path, "rb").read()
    assert drain() == 0
    assert open(SegmentStore(drained).manifest_path, "rb").read() == manifest
    assert SegmentStore(drained).log_size(log_table) == 3


# -- one source evaluation per epoch ---------------------------------------


def test_append_epoch_evaluates_its_source_once(spark, tmp_path):
    """A drain through ``cdc_upsert_sink``: a Python UDF in the stream's
    plan records each row it evaluates, and the epoch's actions (empty
    skip, segment write) must evaluate each source row exactly once —
    the batch is persisted for the step. The count is one byte per
    evaluation appended to a file, not an accumulator: an action that
    stops early (``isEmpty``'s limit) drops its Python worker's
    accumulator updates, so an accumulator misses exactly the extra
    evaluation this test is about."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from transporter_spark.envelope import to_envelope
    from transporter_spark.streaming.cdc import cdc_upsert_sink, read_cdc_table
    from transporter_spark.streaming.state import run_foreach_batch_available_now

    rows = [r for i in range(3) for r in _epoch_rows(i)]
    src = tmp_path / "src"
    src.mkdir()
    schema = pa.schema(
        [("id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
         ("value", pa.float64()), ("text", pa.string())]
    )
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema
    ), str(src / "f0.parquet"), row_group_size=3)

    log = str(tmp_path / "evaluations")

    def record(v):
        with open(log, "ab") as fh:
            fh.write(b".")
        return v is not None

    # a filter, so no action's column pruning can drop the UDF
    counted = F.udf(record, "boolean").asNondeterministic()
    stream = (
        spark.readStream.schema(_ROW_SCHEMA).parquet(str(src))
        .filter(counted("id"))
    )
    state = str(tmp_path / "state")
    applied = run_foreach_batch_available_now(
        to_envelope(stream, ns="t", ts_col="ts", payload_cols=["id", "value"]),
        cdc_upsert_sink(spark, state, keys=["id"]),
        str(tmp_path / "ckpt"),
    )
    assert applied == 1
    assert read_cdc_table(spark, state).count() == len(rows)
    assert os.path.getsize(log) == len(rows)


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_append_epoch_failure_commits_nothing_and_releases_the_batch(
    spark, tmp_path
):
    """A build that fails mid-epoch (its second segment write raises)
    propagates the error, leaves MANIFEST.json byte-identical and no
    persisted frame behind; the replay of that epoch then applies."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()  # the session is shared by the suite
    store = SegmentStore(str(tmp_path / "st"))
    frame = lambda i: spark.createDataFrame(_epoch_rows(i), _ROW_SCHEMA)
    ok = lambda b: {"a": b, "b": b.select("id")}
    assert store.append_epoch(frame(0), 0, ok) is True
    manifest = open(store.manifest_path, "rb").read()

    def failing(b):
        bad = b.select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("boom in build")))
            .otherwise(F.col("id")).alias("id")
        )
        return {"a": b, "b": bad}

    with pytest.raises(Exception, match="boom in build"):
        store.append_epoch(frame(1), 1, failing)
    assert open(store.manifest_path, "rb").read() == manifest
    assert _cache_is_empty(spark)
    assert store.append_epoch(frame(1), 1, ok) is True
    assert store.table_segments("b") == ["b-e0", "b-e1"]
    assert sorted(r.id for r in store.read(spark, "b").collect()) == [
        0, 1, 2, 10, 11, 12
    ]
    assert _cache_is_empty(spark)


def test_append_epoch_empty_epoch_commits_nothing(spark, tmp_path):
    """An empty epoch skips before ``build`` runs, commits nothing and
    releases its persisted batch."""
    spark.catalog.clearCache()  # the session is shared by the suite
    store = SegmentStore(str(tmp_path / "st"))
    built = []
    empty = spark.createDataFrame([], _ROW_SCHEMA)
    assert store.append_epoch(empty, 0, lambda b: built.append(b)) is False
    assert built == [] and store.manifest() is None
    assert _cache_is_empty(spark)


# -- the footer schema rule -------------------------------------------------
#
# Every store read takes its schema from the segments' parquet footers
# on the driver; segments that disagree, or lack Spark's footer key, are
# read with mergeSchema.


def _merged(spark, paths):
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def _same(got, want):
    assert got.schema == want.schema
    assert got.columns == want.columns
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)


def _merged_keyed(spark, store, table):
    """Spark's merged read of a keyed table's segments, each row kept
    only from the segment its key is mapped to."""
    from pyspark.sql import functions as F

    from transporter_spark.streaming.state import SEG_KEY

    mapping = store.keyed_mapping(table)
    current = spark.createDataFrame(sorted(mapping.items()), "_k string, _s string")
    paths = [store.seg_path(s) for s in sorted(set(mapping.values()))]
    seg = F.regexp_extract(F.input_file_name(), r"/segments/([^/]+)/", 1)
    on = (F.col(SEG_KEY) == F.col("_k")) & (F.col("_seg") == F.col("_s"))
    return (
        _merged(spark, paths)
        .withColumn("_seg", seg)
        .join(current, on, "left_semi")
        .drop("_seg")
    )


def test_store_reads_equal_the_merged_read(spark, tmp_path):
    """Differential: a list table (``append_epoch``, a folding
    ``compact_tables_commit``, then a widened epoch), a keyed table
    (``keyed_delta_merge`` remapping a key, ``compact_keyed_commit``)
    and a CDC state (the sink, ``compact_cdc_table``) each read equal to
    Spark's mergeSchema read of the same segments, in schema, column
    order and rows, after every step."""
    from pyspark.sql import functions as F

    from transporter_spark.envelope import to_envelope
    from transporter_spark.streaming.cdc import cdc_upsert_sink, compact_cdc_table
    from transporter_spark.streaming.state import SEG_KEY

    lst = SegmentStore(str(tmp_path / "list"))
    check = lambda: _same(lst.read(spark, "t"), _merged(spark, lst.table_paths("t")))
    frame = lambda rows, ddl="id long, n long": spark.createDataFrame(rows, ddl)
    assert lst.append_epoch(frame([(1, 1), (2, 1)]), 0, lambda b: {"t": b})
    assert lst.append_epoch(frame([(1, 2)]), 1, lambda b: {"t": b})
    check()
    fold = lambda d: d.groupBy("id").agg(F.sum("n").alias("n"))
    assert lst.compact_tables_commit(spark, ["t"], folds={"t": fold})
    check()
    assert lst.append_epoch(frame([(3, 1)]), 2, lambda b: {"t": b})
    check()
    wide = frame([(4, 1, "w")], "id long, n long, extra string")
    assert lst.append_epoch(wide, 3, lambda b: {"t": b})
    check()
    assert "extra" in lst.read(spark, "t").columns

    keyed = SegmentStore(str(tmp_path / "keyed"))
    check = lambda: _same(
        keyed.read_keyed(spark, "k"), _merged_keyed(spark, keyed, "k")
    )
    partial = lambda rows: spark.createDataFrame(rows, "g long, n long").withColumn(
        SEG_KEY, F.col("g").cast("string")
    )
    remerge = lambda prev, part: (
        prev.unionByName(part).groupBy("g", SEG_KEY).agg(F.sum("n").alias("n"))
        .select("g", "n", SEG_KEY)
    )
    for e, rows in enumerate([[(1, 1), (2, 1)], [(2, 5), (3, 1)]]):
        assert keyed.keyed_delta_merge(spark, "k", partial(rows), remerge, e, "g")
        check()
    assert keyed.keyed_mapping("k") == {"1": "k-e0", "2": "k-e1", "3": "k-e1"}
    assert keyed.compact_keyed_commit(spark, "k")
    check()

    cdc = str(tmp_path / "cdc")
    store = SegmentStore(cdc)
    check = lambda: _same(store.read(spark, "delta"), _merged(spark, store.table_paths("delta")))
    sink = cdc_upsert_sink(spark, cdc, keys=["id"])
    env = lambda i: to_envelope(
        spark.createDataFrame(_epoch_rows(i), _ROW_SCHEMA),
        ns="t", ts_col="ts", payload_cols=["id", "value"],
    )
    for e in (0, 1):
        assert sink(env(e), e)
        check()
    assert compact_cdc_table(spark, cdc)
    check()
    assert sink(env(2), 2)
    check()


@pytest.mark.parametrize("wide_first", [False, True])
def test_widened_list_epoch_keeps_its_column(spark, tmp_path, wide_first):
    """An epoch that adds a column keeps it in the list table's read,
    null for the other epoch's rows, whichever epoch came first."""
    store = SegmentStore(str(tmp_path / "st"))
    narrow = spark.createDataFrame([(1, "a")], "id long, s string")
    wide = spark.createDataFrame([(2, "b", 7)], "id long, s string, extra long")
    for e, f in enumerate([wide, narrow] if wide_first else [narrow, wide]):
        assert store.append_epoch(f, e, lambda b: {"t": b})
    got = store.read(spark, "t")
    assert sorted(got.columns) == ["extra", "id", "s"]
    assert sorted((r.id, r.s, r.extra) for r in got.collect()) == [
        (1, "a", None), (2, "b", 7)
    ]


def test_type_conflict_between_segments_raises_at_read(spark, tmp_path):
    """Two epochs that wrote one column with two types: the read
    raises, before any action, instead of planning with one footer's
    type."""
    store = SegmentStore(str(tmp_path / "st"))
    assert store.append_epoch(
        spark.createDataFrame([(1, 5)], "id long, x int"), 0, lambda b: {"t": b}
    )
    assert store.append_epoch(
        spark.createDataFrame([(2, "y")], "id long, x string"), 1, lambda b: {"t": b}
    )
    with pytest.raises(Exception, match="(?i)merg|incompatible|conflict"):
        store.read(spark, "t")


def test_store_reads_start_no_spark_job(spark, tmp_path, jobs_of):
    """A list read of 4 segments and a ``read_keyed`` of 3 segments plan
    without a Spark job: the schema comes from the footers, read on the
    driver. Segments that differ only in nullability (a literal column
    is non-nullable when written) agree."""
    from pyspark.sql import functions as F

    from transporter_spark.streaming.state import SEG_KEY

    store = SegmentStore(str(tmp_path / "st"))
    spark.range(1).select(
        F.lit(0).cast("long").alias("id"), F.lit("x").alias("v")
    ).write.parquet(store.seg_path("t-e0"))
    for e in (1, 2, 3):
        _write(spark, store, f"t-e{e}", [(e, "x")])
    for e in range(3):
        spark.createDataFrame([(e, str(e))], f"g long, {SEG_KEY} string").write.parquet(
            store.seg_path(f"k-e{e}")
        )
    store.commit(
        3,
        tables={"t": [f"t-e{e}" for e in range(4)]},
        keyed={"k": {str(e): f"k-e{e}" for e in range(3)}},
    )
    table, jobs = jobs_of(lambda: store.read(spark, "t"))
    assert jobs == 0
    assert sorted(r.id for r in table.collect()) == [0, 1, 2, 3]
    table, jobs = jobs_of(lambda: store.read_keyed(spark, "k"))
    assert jobs == 0
    assert sorted(r.g for r in table.collect()) == [0, 1, 2]


def test_segment_without_footer_key_falls_back_to_merge(spark, tmp_path):
    """A segment not written by Spark (here by pyarrow) carries no
    Spark schema in its footer: the read merges the segments' schemas,
    so its extra column survives, and equals Spark's merged read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transporter_spark.sources.files import spark_schema

    store = SegmentStore(str(tmp_path / "st"))
    _write(spark, store, "t-e0", [(1, "a")])
    os.makedirs(store.seg_path("t-e1"))
    pq.write_table(
        pa.table({"id": [2], "v": ["b"], "extra": [1.5]}),
        os.path.join(store.seg_path("t-e1"), "part-00000.parquet"),
    )
    store.commit(1, tables={"t": ["t-e0", "t-e1"]})
    assert spark_schema(store.seg_path("t-e0")) is not None
    assert spark_schema(store.seg_path("t-e1")) is None
    got = store.read(spark, "t")
    _same(got, _merged(spark, store.table_paths("t")))
    assert sorted((r.id, r.extra) for r in got.collect()) == [(1, None), (2, 1.5)]
