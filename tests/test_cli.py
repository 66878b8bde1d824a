"""CLI parity (cmd/transporter/main.go:44-60): run/test/about/init +
config parsing with the reference's textual ${FOO} env substitution
(goja_builder.go:60-74)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from transporter_spark.cli import (
    SAMPLE_CONFIG,
    about,
    describe,
    load_config,
    main,
    pipeline_from_config,
    substitute_env,
)


def test_substitute_env_is_textual_and_pre_parse():
    # unset vars become "" — the reference's os.Getenv-backed
    # setConfigEnvironment behavior (goja_builder.go:60-74)
    raw = '{"path": "${BASE}/data", "gone": "${MISSING}"}'
    out = substitute_env(raw, {"BASE": "/tmp/x"})
    assert json.loads(out) == {"path": "/tmp/x/data", "gone": ""}


def test_xlog_offset_bad_args_print_usage(capsys):
    assert main(["xlog", "current"]) == 2
    assert "usage: xlog" in capsys.readouterr().out
    assert main(["offset", "show"]) == 2
    assert "usage: offset" in capsys.readouterr().out
    assert main(["offset", "mark", "/tmp/ckpt", "notanint"]) == 2
    assert "usage: offset" in capsys.readouterr().out
    assert main(["offset", "delete", "/tmp/ckpt", "notanint"]) == 2
    assert "usage: offset" in capsys.readouterr().out


def test_offset_delete_removes_marked_batch(tmp_path, capsys):
    """mark -> delete round-trip, the reference's poison-message
    escape-hatch pair (cmd/transporter/offset.go:1-143): delete drops
    the batch's offsets file (and commit marker when present) so a
    restart re-plans from the prior batch; a second delete of the
    same batch is a loud error, not a silent no-op."""
    ckpt = str(tmp_path / "ckpt")
    assert main(["offset", "mark", ckpt, "7", '{"logOffset":3}']) == 0
    out = capsys.readouterr().out
    assert "wrote" in out
    # a commit marker alongside, as a finished batch would have
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir()
    (commits / "7").write_text("v1\n{}\n")
    assert main(["offset", "delete", ckpt, "7"]) == 0
    out = capsys.readouterr().out
    assert out.count("removed") == 2
    assert not (tmp_path / "ckpt" / "offsets" / "7").exists()
    assert not (commits / "7").exists()
    assert main(["offset", "delete", ckpt, "7"]) == 1
    assert "no offsets or commit entry" in capsys.readouterr().err


def test_offset_delete_refuses_mid_log_batch(tmp_path, capsys):
    """Deleting a non-newest batch leaves a hole in the checkpoint
    log (ADVICE r13): refused without --force, allowed with it."""
    ckpt = str(tmp_path / "ckpt")
    assert main(["offset", "mark", ckpt, "5", '{"logOffset":1}']) == 0
    assert main(["offset", "mark", ckpt, "6", '{"logOffset":2}']) == 0
    capsys.readouterr()
    assert main(["offset", "delete", ckpt, "5"]) == 1
    err = capsys.readouterr().err
    assert "not the newest" in err and "--force" in err
    assert (tmp_path / "ckpt" / "offsets" / "5").exists()
    # a batch that does not exist gets the ACCURATE error, not the
    # newest-guard one (review r14: existence is checked first)
    assert main(["offset", "delete", ckpt, "7"]) == 1
    assert "no offsets or commit entry" in capsys.readouterr().err
    # a commit-marker-only batch deletes without --force: removing it
    # cannot hole the offsets log (review r14)
    commits = tmp_path / "ckpt" / "commits"
    commits.mkdir()
    (commits / "4").write_text("v1\n{}\n")
    assert main(["offset", "delete", ckpt, "4"]) == 0
    assert not (commits / "4").exists()
    # stray non-integer names in offsets/ are skipped, not a crash
    (tmp_path / "ckpt" / "offsets" / "--5").write_text("junk\n")
    assert main(["offset", "delete", ckpt, "5", "--force"]) == 0
    assert not (tmp_path / "ckpt" / "offsets" / "5").exists()
    # the tail entry still deletes without --force
    assert main(["offset", "delete", ckpt, "6"]) == 0
    assert not (tmp_path / "ckpt" / "offsets" / "6").exists()


def test_pipeline_from_config_steps_are_sequential(tmp_path):
    cfg = {
        "name": "p",
        "source": {"kind": "dir", "path": "/d", "namespaces": "a|b"},
        "steps": [
            {"transform": {"op": "pick", "fields": ["x"]}},
            {"save": {"kind": "parquet", "path": "/o1/{ns}"}},
            {"transform": {"op": "omit", "fields": ["y"], "ns": "a"}},
            {"save": {"kind": "jsonl", "path": "/o2/{ns}", "ns": "a"}},
        ],
    }
    p = pipeline_from_config(cfg)
    # first sink sees one transform, second sees both (builder parity)
    assert [t[0] for t in p._sinks[0].transforms] == ["pick"]
    assert [t[0] for t in p._sinks[1].transforms] == ["pick", "omit"]
    assert p._sinks[1].ns_pattern == "a"


def test_pipeline_from_config_rejects_sinkless():
    with pytest.raises(ValueError):
        pipeline_from_config({"source": {"kind": "dir", "path": "/d"}, "steps": []})


def test_describe_resolves_without_spark():
    d = describe(SAMPLE_CONFIG)
    assert d["pipeline"] == "sample"
    assert d["source"]["kind"] == "dir"
    assert d["edges"][0]["transforms"][0]["op"] == "skip"


def test_about_lists_registered_surface():
    from transporter_spark.plans.pipeline import SINKS, SOURCES

    info = about()
    assert "jsonl" in info["sources"] and "jsonl" in info["sinks"]
    # the runner's two kind tables, stream-only kinds included
    assert info["sources"] == list(SOURCES) and info["sinks"] == list(SINKS)
    assert "jsonl_tail" in info["sources"] and "cdc" in info["sinks"]
    assert about("jsonl")["roles"] == ["source", "sink"]
    assert about("cdc")["roles"] == ["sink"]
    for op in ("pick", "omit", "rename", "skip", "opfilter", "remap", "goja", "js"):
        assert op in info["operators"], op
    doc = about("pick")
    assert "operator" in doc and doc["doc"]


def test_init_then_test_roundtrip(tmp_path, monkeypatch, capsys):
    assert main(["init", str(tmp_path)]) == 0
    monkeypatch.setenv("SF_DIR", "/root/testdata/sf0.001")
    cfg = load_config(str(tmp_path / "pipeline.json"))
    assert cfg["source"]["path"] == "/root/testdata/sf0.001"
    assert main(["test", str(tmp_path / "pipeline.json")]) == 0
    # re-init refuses to overwrite
    assert main(["init", str(tmp_path)]) == 1


def test_cli_run_end_to_end(tmp_path, spark, sf_dir, monkeypatch):
    """`run` on a config file: dir source -> skip transform -> jsonl
    sink, verified by reading the output back."""
    cfg = {
        "name": "e2e",
        "source": {"kind": "dir", "path": "${SF_DIR}", "namespaces": "^nation$"},
        "steps": [
            {"transform": {"op": "skip", "field": "n_nationkey", "operator": "<", "match": 5}},
            {"save": {"kind": "jsonl", "path": str(tmp_path / "out_{ns}")}},
        ],
    }
    path = tmp_path / "pipeline.json"
    path.write_text(json.dumps(cfg))
    monkeypatch.setenv("SF_DIR", sf_dir)
    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    assert main(["run", str(path)]) == 0
    back = spark.read.json(str(tmp_path / "out_nation"))
    assert back.count() == 5
    assert set(r["n_nationkey"] for r in back.collect()) == {0, 1, 2, 3, 4}


def test_cli_run_prints_the_exit_event(tmp_path, spark, sf_dir, monkeypatch, capsys):
    """`run` prints the pipeline's exit event as ONE JSON line on
    stdout (the runner itself prints nothing)."""
    cfg = {
        "name": "e2e-print",
        "source": {"kind": "dir", "path": "${SF_DIR}", "namespaces": "^nation$"},
        "steps": [{"save": {"kind": "jsonl", "path": str(tmp_path / "out_{ns}")}}],
    }
    path = tmp_path / "pipeline.json"
    path.write_text(json.dumps(cfg))
    monkeypatch.setenv("SF_DIR", sf_dir)
    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    assert main(["run", str(path)]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    event = json.loads(lines[0])
    assert event["event"] == "exit" and event["pipeline"] == "e2e-print"
    assert event["rows"] == {"nation -> jsonl[0]": 25}


def test_config_errors_are_loud():
    """Misconfigurations fail fast with actionable messages — the
    reference's builder errors at script-eval time the same way."""
    import pytest

    with pytest.raises(ValueError, match="either a transform or a save"):
        pipeline_from_config(
            {
                "source": {"kind": "dir", "path": "/d"},
                "steps": [{"transform": {"op": "pick"}, "save": {"kind": "jsonl"}}],
            }
        )
    with pytest.raises(ValueError, match="unknown step"):
        pipeline_from_config(
            {"source": {"kind": "dir", "path": "/d"}, "steps": [{"bogus": {}}]}
        )
    # unknown operator surfaces the registered inventory at build time
    from transporter_spark.registry import build_operator

    with pytest.raises(KeyError, match="registered"):
        build_operator("not_an_operator")


def test_cli_state_show_and_compact(tmp_path, spark, monkeypatch, capsys):
    """`state show` summarizes a sink's manifest (epoch, segment/file
    counts, gc backlog); `state compact` folds the log offline and is
    idempotent. Driven against a real 2-epoch CDC state."""
    from datetime import datetime

    from transporter_spark.streaming.cdc import cdc_upsert_sink, read_cdc_table

    t = datetime(2024, 1, 1)
    target = str(tmp_path / "cdc")
    sink = cdc_upsert_sink(spark, target, keys=["user_id"])

    def env_of(epoch):
        df = spark.createDataFrame(
            [("insert", t, 10 + epoch, f"v{epoch}")],
            "op string, ts timestamp, user_id long, v string",
        )
        return df.selectExpr("op", "ts", "'t' as ns", "struct(user_id, v) as data")

    for epoch in range(2):
        sink(env_of(epoch), epoch)

    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    assert main(["state", "show", target]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert summary["epoch"] == 1
    assert summary["tables"]["delta"]["segments"] == 2
    assert summary["meta"]["keys"] == ["user_id"]

    assert main(["state", "compact", target]) == 0
    assert "compacted" in capsys.readouterr().out
    assert main(["state", "compact", target]) == 0
    assert "already compact" in capsys.readouterr().out
    assert {(r.user_id, r.v) for r in read_cdc_table(spark, target).collect()} == {
        (10, "v0"), (11, "v1")
    }
    # bad args / missing state
    assert main(["state", "show"]) == 2
    assert main(["state", "show", str(tmp_path / "nope")]) == 1


def test_main_rejects_unknown_subcommand(capsys):
    assert main(["frobnicate"]) == 2


def test_cli_state_compact_dispatches_span_family(
    tmp_path, spark, monkeypatch, capsys
):
    """`state compact` on a span-df state (meta carries span_w) uses
    the family compactor: the index folds PRE-SUMMED to one segment
    (not a plain union of per-epoch partials) and the prune loop's
    corpus folds alongside, contents preserved."""
    from transporter_spark.streaming.spans import (
        read_pruned_corpus,
        read_span_index,
        span_prune_merge_batch,
    )
    from transporter_spark.streaming.state import SegmentStore

    state = str(tmp_path / "spanloop")
    text = " ".join(f"w{i}" for i in range(12))
    for epoch, doc_id in enumerate((1, 2)):
        df = spark.createDataFrame(
            [(doc_id, text)], "doc_id long, text string"
        )
        assert span_prune_merge_batch(df, epoch, state)
    idx_before = sorted(map(tuple, read_span_index(spark, state).collect()))
    pruned_before = sorted(
        map(tuple, read_pruned_corpus(spark, state).collect())
    )

    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    assert main(["state", "compact", state]) == 0
    assert "compacted" in capsys.readouterr().out
    st = SegmentStore(state)
    assert len(st.table_segments("spandf")) == 1
    assert len(st.table_segments("pruned")) == 1
    # pre-summed: the single segment holds one row per hash already
    raw = st.read(spark, "spandf")
    assert raw.count() == raw.select("h").distinct().count()
    assert sorted(map(tuple, read_span_index(spark, state).collect())) == idx_before
    assert sorted(map(tuple, read_pruned_corpus(spark, state).collect())) == pruned_before
    assert main(["state", "compact", state]) == 0
    assert "already compact" in capsys.readouterr().out


def test_cli_run_streaming_tail_sync(tmp_path, spark, monkeypatch, capsys):
    """`run` on a config with a `streaming` block covers tail sync: a
    jsonl_tail source saved to a cdc sink equals a plain-Python
    last-writer-wins, and the exit event counts the feed's changes."""
    from tests.test_pipeline import _TAIL_SCHEMA, _append, _cdc_rows, _lww, _tail_lines

    feed = str(tmp_path / "feed.jsonl")
    lines = _tail_lines(0, 20)
    _append(feed, lines)
    cfg = {
        "name": "tail",
        "source": {"kind": "jsonl_tail", "path": feed, "ns": "cdc", "schema": _TAIL_SCHEMA},
        "steps": [{"save": {"kind": "cdc", "path": str(tmp_path / "state"), "keys": ["id"]}}],
        "streaming": {"checkpoint": str(tmp_path / "ckpt")},
    }
    path = tmp_path / "pipeline.json"
    path.write_text(json.dumps(cfg))
    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    assert main(["run", str(path)]) == 0
    event = json.loads(capsys.readouterr().out)
    assert event["rows"] == {"cdc -> cdc[0]": 20}
    assert _cdc_rows(spark, str(tmp_path / "state")) == _lww(lines)


def test_cli_state_compact_keeps_the_old_manifests_segments(
    tmp_path, spark, monkeypatch, capsys
):
    """`state compact` on a state of two list tables folds both under
    ONE commit: every segment the pre-compaction manifest names is
    still on disk afterwards, for readers that still hold that
    manifest (the one-commit retention of streaming/state.py), and the
    read is unchanged."""
    from transporter_spark.streaming.state import SegmentStore

    target = str(tmp_path / "two")
    store = SegmentStore(target)
    for epoch in range(2):
        batch = spark.createDataFrame([(epoch, f"v{epoch}")], "id long, v string")
        assert store.append_epoch(
            batch, epoch, lambda b: {"a": b, "b": b.select("id")}
        )
    named = [s for segs in store.manifest()["tables"].values() for s in segs]
    assert len(named) == 4

    def reads():
        return {
            t: sorted(map(tuple, store.read(spark, t).collect())) for t in ("a", "b")
        }

    before = reads()
    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    assert main(["state", "compact", target]) == 0
    assert "compacted" in capsys.readouterr().out
    assert [s for s in named if not os.path.isdir(store.seg_path(s))] == []
    assert [len(store.table_segments(t)) for t in ("a", "b")] == [1, 1]
    assert reads() == before


def _sync_config(tmp_path, sink_path):
    """A one-file jsonl -> jsonl config in sync mode."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps({"k": i}) for i in range(5)) + "\n"
    )
    cfg = {
        "name": "sync",
        "source": {"kind": "jsonl", "path": str(src), "ns": "rows"},
        "steps": [{"save": {"kind": "jsonl", "path": str(sink_path)}}],
        "streaming": {"checkpoint": str(tmp_path / "ckpt"), "available_now": False},
    }
    path = tmp_path / "pipeline.json"
    path.write_text(json.dumps(cfg))
    return str(path)


def _main_in_thread(argv):
    result = {}
    thread = threading.Thread(
        target=lambda: result.setdefault("rc", main(argv)), daemon=True
    )
    thread.start()
    return thread, result


def _stop_new_queries(spark, before):
    for query in spark.streams.active:
        if query.id not in before:
            query.stop()


def test_cli_run_sync_mode_stays_up_until_stopped(
    tmp_path, spark, monkeypatch, capsys
):
    """`run` with `"available_now": false` prints the boot event and
    keeps running while its queries run (they would die with the
    process); once they are stopped it returns 0."""
    out = tmp_path / "out"
    path = _sync_config(tmp_path, out)
    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    before = {q.id for q in spark.streams.active}
    thread, result = _main_in_thread(["run", path])
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if out.is_dir() and any(n.startswith("e") for n in os.listdir(out)):
                if spark.read.json(str(out)).count() == 5:
                    break
            time.sleep(0.5)
        else:
            pytest.fail("the sync-mode query wrote no rows")
        time.sleep(1)
        assert thread.is_alive()
        lines = capsys.readouterr().out.splitlines()
        assert [json.loads(line) for line in lines] == [
            {"event": "boot", "pipeline": "sync", "queries": ["rows -> jsonl[0]"]}
        ]
    finally:
        _stop_new_queries(spark, before)
        thread.join(60)
    assert not thread.is_alive()
    assert result["rc"] == 0


def test_cli_run_sync_mode_failed_query_exits_1(
    tmp_path, spark, monkeypatch, capsys
):
    """A sync-mode query that fails ends `run` with 1 and its error on
    stderr: here the sink path is a regular file, so the first epoch's
    write fails."""
    out = tmp_path / "out"
    out.write_text("not a directory\n")
    path = _sync_config(tmp_path, out)
    monkeypatch.setattr("transporter_spark.cli._get_spark", lambda: spark)
    before = {q.id for q in spark.streams.active}
    thread, result = _main_in_thread(["run", path])
    try:
        thread.join(120)
        assert not thread.is_alive()
    finally:
        _stop_new_queries(spark, before)
        thread.join(60)
    assert result["rc"] == 1
    assert "rows -> jsonl[0]" in capsys.readouterr().err
