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
