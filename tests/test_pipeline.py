"""End-to-end pipeline runner tests — the analog of the reference's
TestFileToFile (pipeline/pipeline_integration_test.go:32-140): source ->
transforms -> N sinks with namespace routing, count equality asserted."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from transporter_spark.plans import Pipeline
from transporter_spark.sources.files import read_table


def test_file_to_file_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_out")
    metrics = (
        Pipeline("file2file")
        .source("dir", path=sf_dir, namespaces="^events$")
        .save("jsonl", path=out + "/{ns}")
        .run(spark)
    )
    src_rows = read_table(spark, sf_dir, "events").count()
    assert metrics["rows"]["events -> jsonl[0]"] == src_rows
    back = spark.read.json(out + "/events")
    assert back.count() == src_rows


def test_run_prints_nothing_to_stdout(spark, sf_dir, tmp_path, capsys):
    """Library code prints nothing: ``Pipeline.run`` returns its exit
    event instead of printing it (the CLI prints it)."""
    event = (
        Pipeline("quiet")
        .source("dir", path=sf_dir, namespaces="^nation$")
        .save("jsonl", path=str(tmp_path / "out") + "/{ns}")
        .run(spark)
    )
    assert event["event"] == "exit" and event["rows"]["nation -> jsonl[0]"] > 0
    assert capsys.readouterr().out == ""


def test_fanout_two_sinks_with_edge_transforms(spark, sf_dir, tmp_path):
    """One source, two sinks; the second edge gets an extra filter —
    the reference's fan-out tree (pipe.Send to every child,
    pipe/pipe.go:160-165) with per-edge transforms."""
    full = str(tmp_path / "full")
    filtered = str(tmp_path / "filtered")
    p = (
        Pipeline("fanout")
        .source("dir", path=sf_dir, namespaces="^events$")
        .save("parquet", path=full + "/{ns}")
        .transform("skip", field="event_type", operator="==", match="purchase")
        .save("parquet", path=filtered + "/{ns}")
    )
    metrics = p.run(spark)["rows"]
    ev = read_table(spark, sf_dir, "events")
    assert metrics["events -> parquet[0]"] == ev.count()
    assert metrics["events -> parquet[1]"] == ev.filter(
        F.col("event_type") == "purchase"
    ).count()


def test_namespace_routing_prunes_tables(spark, sf_dir, tmp_path):
    """ns regex on the sink edge: only matching namespaces are written
    (reference pipeline/node.go:522-531) — and non-matching tables are
    pruned before any scan (mongodb/reader.go:95-113 semantics)."""
    out = str(tmp_path / "routed")
    metrics = (
        Pipeline("routing")
        .source("dir", path=sf_dir, namespaces="^(nation|region|supplier)$")
        .save("jsonl", path=out + "/{ns}", ns="^(nation|region)$")
        .run(spark)
    )["rows"]
    assert set(metrics) == {"nation -> jsonl[0]", "region -> jsonl[0]"}
    assert os.path.exists(out + "/nation")
    assert not os.path.exists(out + "/supplier")


def test_transform_ns_scoping(spark, sf_dir, tmp_path):
    """A transform with an ns pattern only applies to matching
    namespaces; others pass through untouched (node.go:599-601)."""
    out = str(tmp_path / "scoped")
    metrics = (
        Pipeline("scoped")
        .source("dir", path=sf_dir, namespaces="^(nation|region)$")
        .transform("skip", field="n_regionkey", operator="==", match=0, ns="^nation$")
        .save("jsonl", path=out + "/{ns}")
        .run(spark)
    )["rows"]
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    assert metrics["nation -> jsonl[0]"] == nation.filter("n_regionkey = 0").count()
    assert metrics["region -> jsonl[0]"] == region.count()  # untouched


def test_pipeline_requires_source_and_sink(spark):
    with pytest.raises(ValueError, match="source and at least one sink"):
        Pipeline("empty").run(spark)
    with pytest.raises(ValueError, match="already has a source"):
        Pipeline("dup").source("dir", path="/x").source("dir", path="/y")


def test_jdbc_source_kind_dispatches_through_registry(spark, sf_dir, monkeypatch):
    """The DSL's `jdbc` source kind routes through sources.jdbc.read_jdbc
    with the partitioned-read knobs (live DB gated; the dispatch and
    envelope wrapping are what this pins)."""
    from transporter_spark.sources import jdbc as jdbc_mod

    seen = {}

    def fake_read_jdbc(sp, url, table, **kw):
        seen.update(url=url, table=table, **kw)
        return read_table(sp, sf_dir, "nation")

    monkeypatch.setattr(jdbc_mod, "read_jdbc", fake_read_jdbc)
    event = (
        Pipeline("jdbc-in")
        .source(
            "jdbc",
            url="jdbc:postgresql://db/x",
            table="nation",
            partition_column="n_nationkey",
            lower_bound=0,
            upper_bound=25,
        )
        .save("memory", view="jdbc_out")
        .run(spark)
    )
    assert seen["url"] == "jdbc:postgresql://db/x"
    assert seen["partition_column"] == "n_nationkey"
    assert event["rows"]["nation -> memory[0]"] == 25
    assert spark.table("jdbc_out").count() == 25


def test_nanos_probe_ignores_spark_written_int96(spark, sf_dir, tmp_path):
    """Round-trip guard: a table read via read_table (nanos converted)
    then re-written by Spark stores INT96/INT64-micros timestamps —
    re-reading it must NOT re-apply the div-1000 conversion (INT96 also
    surfaces as timestamp[ns] in arrow, which fooled the probe once)."""
    from transporter_spark.sources.files import read_table

    ev = read_table(spark, sf_dir, "events")
    out = str(tmp_path / "events.parquet")
    ev.limit(100).write.parquet(out)
    again = read_table(spark, str(tmp_path), "events")
    # dtype must survive the round-trip as a timestamp (ltz or ntz per
    # the source data), NEVER degrade to long via a misfired nanos probe
    assert dict(again.dtypes)["ts"] == dict(ev.dtypes)["ts"]
    assert dict(again.dtypes)["ts"].startswith("timestamp")
    orig = {r.event_id: r.ts for r in ev.limit(100).collect()}
    for r in again.collect():
        assert r.ts == orig[r.event_id]


def test_run_stream_copy_then_resume_moves_only_delta(spark, tmp_path):
    """Streaming pipeline execution (the reference's daemon mode):
    copy phase drains everything; after appending new source lines, a
    re-run with the SAME checkpoint root processes ONLY the delta —
    the per-sink consumer-offset resume contract
    (offset/logmanager.go:14-131, pipeline/node.go:269-356)."""
    import json as _json

    from transporter_spark.plans.pipeline import Pipeline

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps({"k": i, "v": f"r{i}"}) for i in range(10)) + "\n"
    )

    def mk():
        return (
            Pipeline("stream-e2e")
            .source("jsonl", path=str(src), ns="app.rows")
            .transform("skip", field="k", operator=">=", match=2)
            .save("jsonl", path=str(tmp_path / "out"))
        )

    ev1 = mk().run_stream(spark, str(tmp_path / "ckpt"))
    assert ev1["rows"]["app.rows -> jsonl[0]"] == 10  # source rows in epoch 1
    out1 = spark.read.json(str(tmp_path / "out"))
    assert out1.count() == 8  # k>=2 passed the filter

    # tail phase: append one new file, same checkpoint -> only delta
    (src / "b.jsonl").write_text(
        "\n".join(_json.dumps({"k": i, "v": f"r{i}"}) for i in range(10, 14)) + "\n"
    )
    ev2 = mk().run_stream(spark, str(tmp_path / "ckpt"))
    assert ev2["rows"]["app.rows -> jsonl[0]"] == 4  # NOT 14: resume, not re-copy
    assert spark.read.json(str(tmp_path / "out")).count() == 12


def test_run_stream_fanout_separate_offsets(spark, tmp_path):
    """1 source -> 2 sinks: each edge owns a checkpoint (per-sink
    offsets), so both drain independently in one run."""
    import json as _json

    from transporter_spark.plans.pipeline import Pipeline

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps({"k": i}) for i in range(6)) + "\n"
    )
    p = (
        Pipeline("fanout")
        .source("jsonl", path=str(src), ns="app.rows")
        .save("jsonl", path=str(tmp_path / "o1"))
        .transform("skip", field="k", operator="<", match=3)
        .save("jsonl", path=str(tmp_path / "o2"))
    )
    p.run_stream(spark, str(tmp_path / "ckpt"))
    assert spark.read.json(str(tmp_path / "o1")).count() == 6
    assert spark.read.json(str(tmp_path / "o2")).count() == 3
    import os

    assert len(os.listdir(tmp_path / "ckpt")) == 2  # one offset dir per edge


def _read_out(spark, kind, path):
    return getattr(spark.read, "json" if kind == "jsonl" else "parquet")(path)


@pytest.mark.parametrize("kind", ["jsonl", "parquet"])
def test_stream_file_edge_replayed_epoch_adds_no_rows(spark, tmp_path, kind):
    """A streaming file edge publishes each epoch under epoch-named
    files: calling the edge's foreachBatch function twice with one epoch
    id (a replay after a crash) leaves that epoch's rows once, and a
    real Spark replay (last commit deleted from the checkpoint) adds
    nothing either."""
    import json as _json

    from transporter_spark.envelope import to_envelope
    from transporter_spark.plans.pipeline import write_edge

    out = str(tmp_path / "out")
    edge = Pipeline("replay").save(kind, path=out)._sinks[0]

    def batch(lo, hi):
        return to_envelope(spark.range(lo, hi).withColumnRenamed("id", "k"), ns="t")

    write_edge(spark, batch(0, 5), "t", edge, 0)
    write_edge(spark, batch(0, 5), "t", edge, 0)  # replay: new part-file names
    assert sorted(r.k for r in _read_out(spark, kind, out).collect()) == list(range(5))
    write_edge(spark, batch(5, 8), "t", edge, 1)
    assert sorted(r.k for r in _read_out(spark, kind, out).collect()) == list(range(8))
    data = [n for n in os.listdir(out) if not n.startswith((".", "_"))]
    assert data and all(n.startswith(("e0-", "e1-")) for n in data)
    assert not [n for n in os.listdir(out) if n.startswith("_stage")]

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps({"k": i}) for i in range(6)) + "\n"
    )
    p = Pipeline("spark-replay").source("jsonl", path=str(src), ns="rows")
    p.save(kind, path=str(tmp_path / "s"))
    ckpt = tmp_path / "ckpt"
    assert p.run_stream(spark, str(ckpt))["rows"] == {f"rows -> {kind}[0]": 6}
    commits = ckpt / f"rows_{kind}_0" / "commits"
    for name in ("0", ".0.crc"):
        (commits / name).unlink(missing_ok=True)
    assert p.run_stream(spark, str(ckpt))["rows"] == {f"rows -> {kind}[0]": 6}
    back = _read_out(spark, kind, str(tmp_path / "s"))
    assert sorted(r.k for r in back.collect()) == list(range(6))


_TAIL_SCHEMA = "id BIGINT, v BIGINT"


def _tail_lines(start, n):
    """n changes over 5 keys, emitted in swapped pairs (out of event-time
    order); every 4th change is a delete."""
    from datetime import datetime, timedelta

    import json as _json

    lines = []
    for s in range(start, start + n):
        ts = (datetime(2024, 1, 1) + timedelta(seconds=s)).isoformat(sep=" ")
        op = "delete" if s % 4 == 3 else ("insert" if s < 5 else "update")
        lines.append(_json.dumps({"op": op, "ts": ts, "data": {"id": s * 3 % 5, "v": s}}))
    for i in range(0, len(lines) - 1, 2):
        lines[i], lines[i + 1] = lines[i + 1], lines[i]
    return lines


def _lww(lines):
    """Plain-Python last-writer-wins over the change lines."""
    import json as _json

    newest = {}
    for line in lines:
        c = _json.loads(line)
        k = c["data"]["id"]
        if k not in newest or c["ts"] > newest[k]["ts"]:
            newest[k] = c
    return sorted((k, c["data"]["v"]) for k, c in newest.items() if c["op"] != "delete")


def _append(feed, lines):
    with open(feed, "a") as fh:
        fh.write("\n".join(lines) + "\n")


def _cdc_rows(spark, path):
    from transporter_spark.streaming.cdc import read_cdc_table

    return sorted((r.id, r.v) for r in read_cdc_table(spark, path).collect())


def test_run_stream_tail_sync_spec_equals_hand_wired_and_lww(spark, tmp_path):
    """``source("jsonl_tail").save("cdc")`` through ``run_stream`` gives
    the same table as the hand-wired jsonl_tail -> to_envelope ->
    cdc_upsert_sink query and as a plain-Python LWW; a poison line is
    skipped; a second run on the same checkpoint after more lines are
    appended moves only those lines."""
    from transporter_spark.envelope import to_envelope
    from transporter_spark.sources.datasource import JsonlTailDataSource
    from transporter_spark.streaming.cdc import cdc_upsert_sink
    from transporter_spark.streaming.state import run_foreach_batch_available_now

    feed = str(tmp_path / "feed.jsonl")
    first = _tail_lines(0, 30)
    _append(feed, first[:10] + ["NOT JSON AT ALL"] + first[10:])

    def spec():
        return (Pipeline("tail")
                .source("jsonl_tail", path=feed, ns="cdc", schema=_TAIL_SCHEMA)
                .save("cdc", path=str(tmp_path / "state" / "{ns}"), keys=["id"]))

    ev = spec().run_stream(spark, str(tmp_path / "ckpt"))
    assert ev["rows"] == {"cdc -> cdc[0]": 30}  # the poison line is not a row
    state = str(tmp_path / "state" / "cdc")
    assert _cdc_rows(spark, state) == _lww(first)

    spark.dataSource.register(JsonlTailDataSource)
    raw = spark.readStream.format("jsonl_tail").option("path", feed).option("ns", "cdc").load()
    parsed = raw.select(
        "op", "ts", F.from_json("json", _TAIL_SCHEMA).alias("d")
    ).select("op", "ts", "d.*")
    env = to_envelope(parsed, ns="cdc", ts_col="ts", op_col="op")
    by_hand = str(tmp_path / "by_hand")
    run_foreach_batch_available_now(
        env, cdc_upsert_sink(spark, by_hand, keys=["id"]), str(tmp_path / "ckpt_hand")
    )
    assert _cdc_rows(spark, by_hand) == _cdc_rows(spark, state)

    more = _tail_lines(30, 12)
    _append(feed, more)
    ev = spec().run_stream(spark, str(tmp_path / "ckpt"))
    assert ev["rows"] == {"cdc -> cdc[0]": 12}  # NOT 42: resume, not re-copy
    assert _cdc_rows(spark, state) == _lww(first + more)


def test_kind_in_wrong_mode_raises_before_any_query(spark, sf_dir, tmp_path):
    """Stream-only kinds (jsonl_tail, cdc) in ``run`` and batch-only
    kinds (dataframe, jdbc, memory) in ``run_stream`` raise before any
    edge is written or any query starts; so does an unknown kind."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dir_src = ("dir", {"path": sf_dir, "namespaces": "^nation$"})

    def spec(source, *sinks):
        p = Pipeline("modes").source(source[0], **source[1])
        for kind, cfg in sinks:
            p.save(kind, **cfg)
        return p

    cases = [
        ("run", spec(dir_src, ("jsonl", {"path": out}), ("cdc", {"path": out, "keys": ["id"]})),
         "no batch sink kind 'cdc'"),
        ("run", spec(("jsonl_tail", {"path": out, "schema": "id BIGINT"}),
                     ("jsonl", {"path": out})), "no batch source kind 'jsonl_tail'"),
        ("run", spec(dir_src, ("bogus", {})), "no batch sink kind 'bogus'"),
        ("run_stream", spec(dir_src, ("jsonl", {"path": out}), ("memory", {})),
         "no stream sink kind 'memory'"),
        ("run_stream", spec(dir_src, ("jdbc", {"url": "jdbc:x"})), "no stream sink kind 'jdbc'"),
        ("run_stream", spec(("dataframe", {"df": spark.range(3)}), ("jsonl", {"path": out})),
         "no stream source kind 'dataframe'"),
        ("run_stream", spec(("jdbc", {"url": "jdbc:x", "table": "t"}), ("jsonl", {"path": out})),
         "no stream source kind 'jdbc'"),
    ]
    active = len(spark.streams.active)
    for method, p, msg in cases:
        args = (spark, ckpt) if method == "run_stream" else (spark,)
        with pytest.raises(ValueError, match=msg):
            getattr(p, method)(*args)
        assert not os.path.exists(out) and not os.path.exists(ckpt)
        assert len(spark.streams.active) == active


def test_dir_source_pattern_matching_nothing_raises(spark, sf_dir, tmp_path):
    """A ``dir`` namespaces pattern that selects no table raises in both
    modes, naming the pattern and the namespaces it was matched against,
    instead of running zero edges."""
    from transporter_spark.sources.catalog import list_dir_namespaces

    p = (Pipeline("nothing")
         .source("dir", path=sf_dir, namespaces="^no_such_table$")
         .save("jsonl", path=str(tmp_path / "out") + "/{ns}"))
    for run in (lambda: p.run(spark), lambda: p.run_stream(spark, str(tmp_path / "ckpt"))):
        with pytest.raises(ValueError, match=r"\^no_such_table\$") as err:
            run()
        assert list_dir_namespaces(sf_dir)[0] in str(err.value)
    assert not os.path.exists(tmp_path / "out")


_ROWS = [(i, f"v{i}", i / 4) for i in range(12)]


def _file_source(spark, root, fmt, shape):
    """One file (beside a sibling of the same format that must not be
    read) or a directory of part files; returns the source path."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(path, rows):
        if fmt == "parquet":
            cols = dict(zip(("k", "v", "x"), map(list, zip(*rows))))
            pq.write_table(pa.table(cols), path)
        else:
            with open(path, "w") as fh:
                fh.writelines(_json.dumps(dict(zip(("k", "v", "x"), r))) + "\n" for r in rows)

    ext = "parquet" if fmt == "parquet" else "jsonl"
    root.mkdir()
    if shape == "file":
        write(root / f"sibling.{ext}", [(99, "no", 0.5)])
        write(root / f"rows.{ext}", _ROWS)
        return str(root / f"rows.{ext}")
    if fmt == "parquet":
        spark.createDataFrame(_ROWS, "k long, v string, x double").repartition(3).write.parquet(
            str(root / "parts"))
    else:
        (root / "parts").mkdir()
        write(root / "parts" / "a.jsonl", _ROWS[:5])
        write(root / "parts" / "b.jsonl", _ROWS[5:])
    return str(root / "parts")


@pytest.mark.parametrize("mode", ["run", "run_stream"])
@pytest.mark.parametrize("shape", ["file", "dir"])
@pytest.mark.parametrize("kind", ["parquet", "jsonl"])
def test_file_source_kinds_read_a_file_or_a_directory_in_both_modes(
    spark, tmp_path, kind, shape, mode
):
    """A ``parquet`` / ``jsonl`` source path may be one file or a
    directory, in ``run`` and ``run_stream`` alike: the sink holds the
    rows and schema of a plain batch read of that path."""
    fmt = "json" if kind == "jsonl" else "parquet"
    src = _file_source(spark, tmp_path / "src", fmt, shape)
    out = str(tmp_path / "out")
    p = Pipeline("files").source(kind, path=src, ns="rows").save("parquet", path=out)
    event = p.run(spark) if mode == "run" else p.run_stream(spark, str(tmp_path / "ckpt"))
    assert event["rows"] == {"rows -> parquet[0]": len(_ROWS)}
    want = spark.read.format(fmt).load(src)
    got = spark.read.parquet(out)
    assert got.dtypes == want.dtypes
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("first", ["dir", "parquet"])
def test_nanos_timestamps_read_alike_through_every_parquet_kind(spark, tmp_path, first):
    """A parquet TIMESTAMP(NANOS) column reads as the same microsecond
    timestamp through ``dir`` and ``parquet``, in ``run`` and
    ``run_stream``, whichever kind reads first in a session where
    ``spark.sql.legacy.parquet.nanosAsLong`` starts out false."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transporter_spark.sources.files import _nanos_ts_columns

    nanos = [1_704_067_200_000_000_000 + i * 1_000_001_001 for i in range(5)]
    src = tmp_path / "src"
    src.mkdir()
    path = str(src / "ev.parquet")
    pq.write_table(pa.table({"k": list(range(5)), "t": pa.array(nanos, pa.timestamp("ns"))}), path)
    assert _nanos_ts_columns(path) == ["t"]
    specs = {
        "dir": {"path": str(src), "namespaces": "^ev$"},
        "parquet": {"path": path, "ns": "ev"},
    }
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(flag, None)
    spark.conf.set(flag, "false")
    got = {}
    try:
        for kind in sorted(specs, key=lambda k: k != first):
            for mode in ("run", "run_stream"):
                out = str(tmp_path / f"{kind}_{mode}")
                p = Pipeline("nanos").source(kind, **specs[kind]).save("parquet", path=out)
                if mode == "run":
                    p.run(spark)
                else:
                    p.run_stream(spark, str(tmp_path / f"ckpt_{kind}"))
                back = spark.read.parquet(out)
                micros = back.select("k", F.unix_micros("t")).collect()
                got[kind, mode] = (back.dtypes, sorted(map(tuple, micros)))
    finally:
        if before is None:
            spark.conf.unset(flag)
        else:
            spark.conf.set(flag, before)
    want = ([("k", "bigint"), ("t", "timestamp")], [(i, n // 1000) for i, n in enumerate(nanos)])
    assert got == {(k, m): want for k in specs for m in ("run", "run_stream")}
