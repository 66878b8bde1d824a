"""Unit tests for the transform operator set — table-driven like the
reference's function tests (function/rename/rename_test.go:36-79,
function/skip/skipper_test.go)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from transporter_spark.envelope import to_envelope, from_envelope
from transporter_spark.registry import build_operator


@pytest.fixture(scope="module")
def plain(spark):
    return spark.createDataFrame(
        [
            (1, "alice", 10.0, "x"),
            (2, "bob", 25.5, "y"),
            (3, "carol", None, "z"),
        ],
        "id long, name string, score double, tag string",
    )


@pytest.fixture(scope="module")
def env(spark, plain):
    return to_envelope(plain, ns="app.users")


def test_pick_plain_and_envelope(plain, env):
    assert build_operator("pick", fields=["id", "name"])(plain).columns == ["id", "name"]
    out = build_operator("pick", fields=["id", "name", "missing"])(env)
    assert out.columns == ["op", "ts", "ns", "data"]
    assert [f.name for f in out.schema["data"].dataType.fields] == ["id", "name"]


def test_omit(plain, env):
    assert build_operator("omit", fields=["tag"])(plain).columns == ["id", "name", "score"]
    out = build_operator("omit", fields=["tag", "score"])(env)
    assert [f.name for f in out.schema["data"].dataType.fields] == ["id", "name"]


def test_rename_missing_keys_ignored(plain):
    out = build_operator("rename", field_map={"name": "username", "nope": "x"})(plain)
    assert out.columns == ["id", "username", "score", "tag"]


def test_rename_collision_renamed_wins(spark):
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    out = build_operator("rename", field_map={"a": "b"})(df)
    assert out.columns == ["b"]
    assert out.collect()[0].b == 1  # renamed column replaced the old b


# --- skip comparator matrix (skipper.go:57-111 parity) ---------------------

@pytest.mark.parametrize(
    "operator,match,expected_ids",
    [
        ("==", "bob", {2}),
        ("eq", "bob", {2}),
        ("$eq", "bob", {2}),
        ("=~", "^(a|c)", {1, 3}),
        (">", 10, {2}),
        (">=", 10, {1, 2}),
        ("<", 25.5, {1}),
        ("<=", 25.5, {1, 2}),
        (">", "10", {2}),  # numeric string coercion, convert() parity
    ],
)
def test_skip_matrix(plain, operator, match, expected_ids):
    field = "name" if isinstance(match, str) and operator in ("==", "eq", "$eq", "=~") else "score"
    out = build_operator("skip", field=field, operator=operator, match=match)(plain)
    assert {r.id for r in out.collect()} == expected_ids


def test_skip_eq_no_cross_type_coercion(spark):
    """reflect.DeepEqual parity: int 10 != string "10"."""
    df = spark.createDataFrame([(1, "10")], "id long, v string")
    out = build_operator("skip", field="v", operator="==", match="10")(df)
    assert out.count() == 1  # same type matches...
    df2 = spark.createDataFrame([(1, 10.0)], "id long, v double")
    out2 = build_operator("skip", field="v", operator=">", match="banana")(df2)
    assert out2.count() == 0  # unconvertible match -> no rows (not a crash)


def test_opfilter_whitelist_blacklist(spark):
    df = spark.createDataFrame(
        [("insert", 1), ("update", 2), ("delete", 3), ("INSERT", 4)],
        "op string, id long",
    )
    wl = build_operator("opfilter", whitelist=["insert"])(df)
    assert {r.id for r in wl.collect()} == {1, 4}  # case-insensitive
    bl = build_operator("opfilter", blacklist=["delete"])(df)
    assert {r.id for r in bl.collect()} == {1, 2, 4}


def test_remap_unmatched_passthrough(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], "ns string")
    out = build_operator("remap", ns_map={"a": "A", "b": "B"})(df)
    assert {r.ns for r in out.collect()} == {"A", "B", "c"}


def test_py_transform_drop_and_mutate(env):
    def fn(doc):
        d = doc["data"]
        if d["id"] == 2:
            return None  # drop bob
        return {"op": "update", "ns": "other", "data": {"id": d["id"] * 100}}

    out = build_operator("py", fn=fn)(env)
    rows = out.collect()
    assert len(rows) == 2
    assert all(r.ns == "other" and r.op == "update" for r in rows)
    ids = {__import__("json").loads(r.data.json)["id"] for r in rows}
    assert ids == {100, 300}


def test_pretty_logs_sample_not_stdout(env, capsys, caplog):
    """pretty logs its sample at INFO (prettify.go:34-42 log.Infoln)
    and never writes to stdout; the frame passes through unchanged."""
    import logging

    with caplog.at_level(logging.INFO, logger="transporter_spark.operators.transforms"):
        out = build_operator("pretty", rows=2)(env)
    assert out is env
    assert capsys.readouterr().out == ""
    assert len(caplog.records) == 2 and '"ns": "app.users"' in caplog.records[0].getMessage()


def test_envelope_roundtrip(plain, env):
    back = from_envelope(env)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, plain.collect()))
    meta = from_envelope(env, keep_meta=True)
    assert meta.columns[:3] == ["op", "ts", "ns"]


# ---------------------------------------------------------------------------
# user-JS transformer: the reference goja contract executed by node
# (fixtures ported from function/gojajs/goja_test.go + testdata/*.js)
# ---------------------------------------------------------------------------

import shutil

needs_node = pytest.mark.skipif(
    shutil.which("node") is None, reason="no node executable"
)

_DOC = {"op": "insert", "ts": 1700000000000000, "ns": "collection",
        "data": {"id": "id1", "name": "nick"}}


def _run_one(js, doc=None):
    from transporter_spark.operators.transforms import run_js_batch

    [got] = run_js_batch(js, [dict(doc or _DOC)])
    return got


@needs_node
def test_js_passthrough():
    # goja_test.go "just pass through" / testdata/transformer.js
    assert _run_one("function transform(doc) { return doc }") == _DOC


@needs_node
def test_js_delete_name_insert_and_delete_op():
    # "delete the 'name' property" + "delete's should be processed the
    # same" / testdata/delete_name.js
    js = "function transform(doc) { delete doc['data']['name']; return doc }"
    got = _run_one(js)
    assert got["data"] == {"id": "id1"} and got["op"] == "insert"
    got = _run_one(js, {**_DOC, "op": "delete"})
    assert got["data"] == {"id": "id1"} and got["op"] == "delete"


@needs_node
def test_js_change_ns():
    # "we should be able to change the namespace" / testdata/change_ns.js
    got = _run_one("function transform(doc) { doc['ns'] = 'table'; return doc }")
    assert got["ns"] == "table" and got["data"] == _DOC["data"]


@needs_node
def test_js_add_data():
    # "we should be able to add an object to the bson" / testdata/add_data.js
    got = _run_one(
        'function transform(doc) { doc["data"]["added"] = '
        '{"name":"batman","villain":"joker"}; return doc }'
    )
    assert got["data"]["added"] == {"name": "batman", "villain": "joker"}


@pytest.mark.parametrize("lang", ["py", pytest.param("js", marks=needs_node)])
def test_js_skip_and_invalid_end_to_end(env, lang):
    """End-to-end over Spark mapInArrow, for a python fn and a node
    script alike: testdata/skip.js drops every row (op='s' ->
    ops.Skip via first-byte match, ops.go:45-62); invalid_data.js
    (data no longer a map) raises the ErrInvalidMessageType analog."""

    def skip(doc):
        doc["op"] = "s"
        return doc

    def invalid(doc):
        doc["data"] = "not a map"
        return doc

    if lang == "py":
        skip_op, bad = build_operator("py", fn=skip), build_operator("py", fn=invalid)
    else:
        skip_op = build_operator(
            "js", source="function transform(doc) { doc['op'] = 's'; return doc }"
        )
        bad = build_operator(
            "js", source='function transform(doc) { doc["data"] = "not a map"; return doc }'
        )
    assert skip_op(env).count() == 0
    with pytest.raises(Exception, match="was not a map"):
        bad(env).count()


@needs_node
def test_js_transform_end_to_end_mutates(env):
    """A real .js file (reference user-script migration path): mutate a
    field, drop one row by returning null, rewrite ns — verified
    through the full mapInPandas + node pipeline."""
    js = """
function transform(doc) {
  if (doc.data.id === 2) { return null; }
  doc.data.name = doc.data.name.toUpperCase();
  doc.ns = 'app.users_v2';
  return doc;
}
"""
    out = build_operator("js", source=js)(env)
    rows = {
        int(F_id): name
        for F_id, name in (
            (r["id"], r["name"])
            for r in (
                __import__("json").loads(x["data"]["json"]) for x in out.collect()
            )
        )
    }
    assert rows == {1: "ALICE", 3: "CAROL"}
    assert {r["ns"] for r in out.collect()} == {"app.users_v2"}


@needs_node
def test_js_transform_from_file(tmp_path, env):
    # the reference's filename= config (goja.go:44,62-84)
    p = tmp_path / "transformer.js"
    p.write_text("function transform(doc) { return doc }")
    out = build_operator("js", filename=str(p))(env)
    assert out.count() == env.count()


def test_js_transform_empty_filename():
    from transporter_spark.operators.transforms import js_transform

    with pytest.raises(ValueError, match="no filename"):
        js_transform()


# --- the resident node co-process (one per Python process and script) -----

@needs_node
def test_js_exit_fails_batch_then_respawns():
    from transporter_spark.operators.transforms import run_js_batch

    js = ("function transform(doc) {"
          " if (doc.data.die) { process.exit(3); } return doc; }")
    assert run_js_batch(js, [_DOC]) == [_DOC]
    with pytest.raises(RuntimeError, match="node exit 3"):
        run_js_batch(js, [{**_DOC, "data": {"die": True}}])
    assert run_js_batch(js, [_DOC, _DOC]) == [_DOC, _DOC]  # a fresh node


@needs_node
def test_js_console_output_does_not_corrupt_results():
    """console.* (top-level and per doc) stays off the protocol stream;
    a leading hashbang, which node accepts, still loads."""
    from transporter_spark.operators.transforms import run_js_batch

    js = """#!/usr/bin/env node
console.log('loading');
function transform(doc) {
  console.log('doc', doc.data.id);
  console.info({seen: doc.ns});
  console.dir(doc);
  return doc;
}
"""
    assert run_js_batch(js, [_DOC] * 3) == [_DOC] * 3


@needs_node
def test_js_large_batch_and_stderr_do_not_deadlock():
    """Input and stderr both well past a 64 KiB pipe buffer: node must
    read the whole batch while its stderr lands in a file nobody has to
    drain (a blocking write to fd 2, unlike console's, would stall on a
    full pipe)."""
    import threading

    from transporter_spark.operators.transforms import run_js_batch

    js = ("function transform(doc) {"
          " require('fs').writeSync(2, 'e'.repeat(1000) + '\\n');"
          " doc.data.n = doc.data.pad.length; delete doc.data.pad; return doc; }")
    docs = [{**_DOC, "data": {"i": i, "pad": "p" * 1000}} for i in range(300)]
    got = []
    t = threading.Thread(target=lambda: got.extend(run_js_batch(js, docs)), daemon=True)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "node batch deadlocked"
    assert [d["data"] for d in got] == [{"i": i, "n": 1000} for i in range(300)]


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize("lang", ["py", pytest.param("js", marks=needs_node)])
def test_js_ts_micros_round_trip(spark, lang, tz):
    """Null ts maps to null; the transform sees exactly unix_micros(ts)
    — UTC epoch micros in every session timezone — and ts comes back
    out exactly."""
    from transporter_spark.session import scoped_confs

    def fn(doc):
        doc["data"]["seen"] = doc["ts"]
        return doc

    us = 1700000000123456
    js = "function transform(doc) { doc.data.seen = doc.ts; return doc; }"
    op = build_operator("py", fn=fn) if lang == "py" else build_operator("js", source=js)
    with scoped_confs(spark, {"spark.sql.session.timeZone": tz}):
        df = spark.createDataFrame(
            [("insert", us, "t", 1), ("insert", None, "t", 2)],
            "op string, us long, ns string, id long",
        ).select("op", F.timestamp_micros("us").alias("ts"), "ns",
                 F.struct("id").alias("data"))
        out = op(df).select(
            F.get_json_object("data.json", "$.id").cast("long").alias("id"),
            F.unix_micros("ts").alias("ts_us"),
            F.get_json_object("data.json", "$.seen").cast("long").alias("seen"),
        )
        assert sorted(map(tuple, out.collect())) == [(1, us, us), (2, None, None)]


@needs_node
def test_js_script_state_lasts_for_the_process():
    """Script globals live as long as the node process (the Python
    worker's life), not one batch: a counter persists across calls."""
    from transporter_spark.operators.transforms import run_js_batch

    js = ("var calls = 0; // state-lifetime pin\n"
          "function transform(doc) { calls += 1; doc.data.calls = calls; return doc; }")
    first = run_js_batch(js, [_DOC])
    second = run_js_batch(js, [_DOC])
    assert first[0]["data"]["calls"] + 1 == second[0]["data"]["calls"]


@needs_node
def test_js_node_reaped_on_stdin_eof_and_script_file_removed(tmp_path, monkeypatch):
    import os
    import subprocess
    import sys
    import tempfile
    import time

    from transporter_spark.operators.transforms import _JS_REGISTRY, run_js_batch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    js = "function transform(doc) { return doc; } // hygiene pin"
    assert run_js_batch(js, [_DOC]) == [_DOC]
    assert list(tmp_path.glob("*.js")) == []  # removed once node loaded it
    nodes = sys.modules[_JS_REGISTRY].nodes
    [key] = [k for k, c in nodes.items() if c.proc.args[1].startswith(str(tmp_path))]
    child = nodes.pop(key)
    child.proc.stdin.close()
    assert child.proc.wait(timeout=10) == 0  # exits on EOF, reaped
    child.proc.stdout.close()
    child.err.close()

    # a Python process that dies without closing anything: its node
    # sees stdin EOF and exits too
    code = (
        "import os\n"
        "from transporter_spark.operators.transforms import run_js_batch, _JS_REGISTRY\n"
        f"run_js_batch({js!r}, [{{'op': 'insert', 'data': {{}}}}])\n"
        "[c] = __import__('sys').modules[_JS_REGISTRY].nodes.values()\n"
        "print(c.proc.pid, flush=True)\n"
        "os._exit(0)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path),
           "PYTHONPATH": os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))}
    pid = int(subprocess.run([sys.executable, "-c", code], env=env, check=True,
                             capture_output=True, text=True).stdout)

    def alive():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] not in "ZX"
        except FileNotFoundError:
            return False

    deadline = time.monotonic() + 10
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not alive()
    assert list(tmp_path.glob("*.js")) == []


@needs_node
def test_otto_alias_preloads_underscore():
    """The otto/transformer aliases inject the underscore shim
    (function/ottojs/otto.go:48-212 parity); goja/js do NOT — a
    legacy `_`-using script must fail there exactly as the README
    documents."""
    import pytest

    from transporter_spark.operators.transforms import (
        _UNDERSCORE_SHIM,
        run_js_batch,
    )

    script = """
function transform(doc) {
  doc.data = {n: _.size(doc.data), ks: _.keys(doc.data),
              picked: _.pick(doc.data, 'a'),
              sum: _.reduce(_.values(doc.data),
                            function (x, y) { return x + y; }, 0),
              uniq: _.uniq([3, 3, 1]), rng: _.range(1, 7, 2),
              rng_neg: _.range(-3),
              plucked: _.pluck([{v: 1}, {v: 2}], 'v'),
              flat: _.flatten([[1], [2, [3]]]),
              flat_sh: _.flatten([[1], [2, [3]]], true),
              first2: _.first([7, 8, 9], 2), first1: _.first([7, 8, 9]),
              last2: _.last([7, 8, 9], 2), last1: _.last([7, 8, 9]),
              omitted: _.omit(doc.data, 'b'),
              cloned: _.clone(doc.data)};
  return doc;
}
"""
    docs = [{"op": "insert", "ns": "t", "data": {"a": 1, "b": 2}}]
    out = run_js_batch(_UNDERSCORE_SHIM + script, docs)
    d = out[0]["data"]
    assert d["n"] == 2 and sorted(d["ks"]) == ["a", "b"]
    assert d["picked"] == {"a": 1} and d["sum"] == 3
    assert d["uniq"] == [3, 1] and d["rng"] == [1, 3, 5]
    # underscore argument-variant parity (review r14): n-arg
    # first/last, deep-by-default flatten, negative single-arg range
    assert d["rng_neg"] == [0, -1, -2]
    assert d["plucked"] == [1, 2]
    assert d["flat"] == [1, 2, 3] and d["flat_sh"] == [1, 2, [3]]
    assert d["first2"] == [7, 8] and d["first1"] == 7
    assert d["last2"] == [8, 9] and d["last1"] == 9
    assert d["omitted"] == {"a": 1}
    assert d["cloned"] == {"a": 1, "b": 2}
    # without the shim the same script is a loud ReferenceError
    with pytest.raises(RuntimeError):
        run_js_batch(script, docs)


@needs_node
def test_otto_operator_routes_through_shim(spark):
    """build_operator('otto'/'transformer') prepends the shim;
    build_operator('js') does not (reference behavior either way)."""
    import pandas as pd

    from transporter_spark.envelope import to_envelope

    df = spark.createDataFrame(
        [(1, "x")], "event_id long, event_type string"
    ).withColumn("_op", F.lit("insert"))
    env = to_envelope(
        df, ns="t", op_col="_op", payload_cols=["event_id", "event_type"]
    )
    js = """
function transform(doc) {
  doc.data = {n: _.size(doc.data)};
  return doc;
}
"""
    from transporter_spark.registry import build_operator as bo

    for alias in ("otto", "transformer"):
        got = bo(alias, source=js)(env).select("data.json").collect()
        assert got[0][0] == '{"n": 2}'


def test_stream_js_transform_unlinks_script_when_build_fails(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The graded streaming-js query writes its script to a temp `.js`
    file; a failing operator build must not leave that file behind."""
    import tempfile

    from transporter_spark.queries import transforms as qt

    def boom(*a, **kw):
        raise RuntimeError("operator build failed")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(qt, "build_operator", boom)
    with pytest.raises(RuntimeError, match="operator build failed"):
        qt.q_stream_js_transform(spark, sf_dir)
    assert not list(tmp_path.glob("ts_transform_*.js"))
