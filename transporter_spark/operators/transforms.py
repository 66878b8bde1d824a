"""Per-message transforms, vectorized.

Parity with the reference's function set (SURVEY.md §2.3). Each factory
returns a pure ``DataFrame -> DataFrame``; all of them work both on
*envelope* frames (op/ts/ns/data-struct — they rewrite the ``data``
struct) and on plain frames (they rewrite top-level columns). The
reference applies these one message at a time in a goroutine
(pipeline/node.go:596-619); here each is a Column expression inside one
Catalyst plan, so a chain of transforms fuses into a single
whole-stage-codegen projection/filter — no per-row interpreter.
"""

from __future__ import annotations

import hashlib
import json
import logging
from typing import Callable, Dict, Iterable, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transporter_spark.registry import register

_ENVELOPE = ("op", "ts", "ns", "data")
_log = logging.getLogger(__name__)


def _is_envelope(df: DataFrame) -> bool:
    return list(df.columns) == list(_ENVELOPE) and isinstance(
        df.schema["data"].dataType, T.StructType
    )


def _payload_fields(df: DataFrame) -> List[str]:
    if _is_envelope(df):
        return [f.name for f in df.schema["data"].dataType.fields]
    return list(df.columns)


def _rebuild_data(df: DataFrame, exprs: List[Column]) -> DataFrame:
    return df.withColumn("data", F.struct(*exprs))


# ---------------------------------------------------------------------------
# pick — projection (reference function/pick/picker.go:26-36)
# ---------------------------------------------------------------------------

@register("pick")
def pick(fields: Iterable[str]) -> Callable[[DataFrame], DataFrame]:
    """Keep only the listed payload fields. Fields absent from the schema
    are ignored (the reference silently skips them — picker.go:29-33).
    Maps to a plain ``select``; Catalyst turns it into parquet column
    pruning, so unpicked columns are never read off disk.
    """
    wanted = list(fields)

    def apply(df: DataFrame) -> DataFrame:
        present = [f for f in wanted if f in _payload_fields(df)]
        if _is_envelope(df):
            return _rebuild_data(df, [F.col(f"data.{f}").alias(f) for f in present])
        return df.select(*present)

    return apply


# ---------------------------------------------------------------------------
# omit — anti-projection (reference function/omit/omitter.go:25-29)
# ---------------------------------------------------------------------------

@register("omit")
def omit(fields: Iterable[str]) -> Callable[[DataFrame], DataFrame]:
    drop = set(fields)

    def apply(df: DataFrame) -> DataFrame:
        keep = [f for f in _payload_fields(df) if f not in drop]
        if _is_envelope(df):
            return _rebuild_data(df, [F.col(f"data.{f}").alias(f) for f in keep])
        return df.select(*keep)

    return apply


# ---------------------------------------------------------------------------
# rename — (reference function/rename/rename.go:26-34)
# ---------------------------------------------------------------------------

@register("rename")
def rename(field_map: Dict[str, str]) -> Callable[[DataFrame], DataFrame]:
    """Rename payload fields. Missing source keys are ignored (parity).

    The reference leaves collision behavior undefined (Go map iteration);
    we define it deterministically: the renamed column *replaces* any
    pre-existing column with the target name, and output keeps source
    column order.
    """

    def apply(df: DataFrame) -> DataFrame:
        fields = _payload_fields(df)
        targets = {field_map[f] for f in fields if f in field_map}
        out: List[Column] = []
        prefix = "data." if _is_envelope(df) else ""
        for f in fields:
            if f in field_map:
                out.append(F.col(prefix + f).alias(field_map[f]))
            elif f in targets:
                continue  # replaced by a renamed column
            else:
                out.append(F.col(prefix + f).alias(f))
        if _is_envelope(df):
            return _rebuild_data(df, out)
        return df.select(*out)

    return apply


# ---------------------------------------------------------------------------
# skip — predicate filter (reference function/skip/skipper.go:40-110)
# ---------------------------------------------------------------------------

_ORDERED = {">", ">=", "<", "<="}
_EQ = {"==", "eq", "$eq"}


def skip_predicate(col: Column, operator: str, match) -> Column:
    """Build the skip() predicate.

    Parity notes (skipper.go:57-111):
    - ``==``/``eq``/``$eq`` is a deep-equal on the native value — no type
      coercion (Go ``reflect.DeepEqual``), so ``10 == "10"`` is false.
    - ``=~`` regex-matches the *string* value (non-strings error in the
      reference; we cast, which is strictly more permissive).
    - ordered comparators numerically coerce both sides, including
      numeric strings (convert(), skipper.go:88-111); unconvertible
      values fail the pipeline in the reference — here they simply don't
      match (try_cast -> NULL -> filter false), which keeps the stream
      alive; the row is dropped either way.
    """
    if operator in _EQ:
        return col.eqNullSafe(F.lit(match)) if match is None else col == F.lit(match)
    if operator == "=~":
        return col.cast("string").rlike(str(match))
    if operator in _ORDERED:
        lhs = col.cast("string").try_cast("double")
        rhs = F.lit(match).cast("string").try_cast("double")
        return {
            ">": lhs > rhs,
            ">=": lhs >= rhs,
            "<": lhs < rhs,
            "<=": lhs <= rhs,
        }[operator]
    raise ValueError(f"unknown operator {operator!r}")  # skipper.go:84-86 parity


@register("skip")
def skip(field: str, operator: str, match) -> Callable[[DataFrame], DataFrame]:
    def apply(df: DataFrame) -> DataFrame:
        prefix = "data." if _is_envelope(df) else ""
        return df.filter(skip_predicate(F.col(prefix + field), operator, match))

    return apply


# ---------------------------------------------------------------------------
# opfilter — CDC op whitelist/blacklist (function/opfilter/opfilter.go:30-46)
# ---------------------------------------------------------------------------

@register("opfilter")
def opfilter(
    whitelist: Optional[Iterable[str]] = None,
    blacklist: Optional[Iterable[str]] = None,
    op_col: str = "op",
) -> Callable[[DataFrame], DataFrame]:
    wl = [s.lower() for s in whitelist] if whitelist else None
    bl = [s.lower() for s in blacklist] if blacklist else None

    def apply(df: DataFrame) -> DataFrame:
        c = F.lower(F.col(op_col))
        if wl:
            df = df.filter(c.isin(wl))
        if bl:
            df = df.filter(~c.isin(bl))
        return df

    return apply


# ---------------------------------------------------------------------------
# remap — namespace rerouting (reference function/remap/remap.go:26-31)
# ---------------------------------------------------------------------------

@register("remap")
def remap(ns_map: Dict[str, str], ns_col: str = "ns") -> Callable[[DataFrame], DataFrame]:
    """Exact-match namespace replacement; unmatched namespaces pass
    through unchanged (remap.go:27-30). One chained CASE expression —
    constant-folded by Catalyst."""

    def apply(df: DataFrame) -> DataFrame:
        mapping = F.create_map(*[F.lit(x) for kv in ns_map.items() for x in kv])
        return df.withColumn(
            ns_col, F.coalesce(mapping[F.col(ns_col)], F.col(ns_col))
        )

    return apply


# ---------------------------------------------------------------------------
# pretty — debug logging passthrough (function/pretty/prettify.go:34-42)
# ---------------------------------------------------------------------------

@register("pretty")
def pretty(spaces: int = 2, rows: int = 5) -> Callable[[DataFrame], DataFrame]:
    """Log a sample of the frame as indented JSON at INFO; passthrough.

    The reference logs every message (``log.Infoln``, row-at-a-time
    luxury); at scale that is an anti-pattern, so we log a bounded
    sample at plan-build time — only when INFO is enabled for this
    module's logger — and return the frame unchanged.
    """

    def apply(df: DataFrame) -> DataFrame:
        if _log.isEnabledFor(logging.INFO):
            for line in df.limit(rows).toJSON().collect():
                _log.info(json.dumps(json.loads(line), indent=spaces, default=str))
        return df

    return apply


# ---------------------------------------------------------------------------
# the per-document UDF codec shared by py and js (goja.go:53-155)
# ---------------------------------------------------------------------------

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ns", T.StringType()),
        T.StructField("data", T.StructType([T.StructField("json", T.StringType())])),
    ]
)


def _doc_udf(call) -> Callable[[DataFrame], DataFrame]:
    """The one batch path of the ``py``/``js``/``otto`` transforms: stage
    ``op, ts, ns, to_json(data)``, hop through ``mapInArrow`` and call
    ``call(ops, ts_us, nss, data_jsons)`` once per Arrow batch for one
    result (dict or None) per doc. ``ts_us`` is UTC epoch micros in any
    session timezone (Arrow ``timestamp[us]`` read as int64) or None.

    The result rule is goja's (goja.go:128-155): None or an ``op``
    starting with ``s`` drops the doc (ops.go:45-62 matches the first
    byte); an omitted ``op``/``ts``/``ns`` keeps the input's; ``data``
    must be a map (ErrInvalidMessageType) and is re-encoded exactly as
    ``json.dumps(data, default=str)``. ``run`` references no module-level
    name of this package, so cloudpickle ships it by value."""

    def run(batches):
        import json
        import pyarrow as pa

        # json.dumps(data, default=str) byte for byte, one encoder per task
        encode = json.JSONEncoder(default=str).encode
        for batch in batches:
            ops = batch.column("op").to_pylist()
            ts_us = batch.column("ts").cast(pa.int64()).to_pylist()
            nss = batch.column("ns").to_pylist()
            results = call(ops, ts_us, nss, batch.column("data_json").to_pylist())
            op_out, ts_out, ns_out, data_out = [], [], [], []
            for op, ts, ns, got in zip(ops, ts_us, nss, results):
                if got is None:
                    continue
                op = got.get("op", op)
                if str(op).startswith("s"):
                    continue
                data = got.get("data")
                if not isinstance(data, dict):
                    raise RuntimeError("returned document was not a map")
                ts = got.get("ts", ts)
                op_out.append(op)
                ts_out.append(None if ts is None else int(ts))
                ns_out.append(got.get("ns", ns))
                data_out.append(encode(data))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(op_out, pa.string()),
                    pa.array(ts_out, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
                    pa.array(ns_out, pa.string()),
                    pa.StructArray.from_arrays([pa.array(data_out, pa.string())], ["json"]),
                ],
                names=["op", "ts", "ns", "data"],
            )

    def apply(df: DataFrame) -> DataFrame:
        staged = df.select("op", "ts", "ns", F.to_json("data").alias("data_json"))
        return staged.mapInArrow(run, schema=_DOC_SCHEMA)

    return apply


def _script_source(filename: Optional[str], source: Optional[str]) -> str:
    """``source``, else the file's text, read at operator build as
    goja.go:62-84 reads it at config time."""
    if source is None:
        if not filename:
            raise ValueError("no filename specified")  # ErrEmptyFilename
        with open(filename) as fh:
            source = fh.read()
    return source


# ---------------------------------------------------------------------------
# py — the JS-UDF analog (reference function/gojajs/goja.go:53-126)
# ---------------------------------------------------------------------------

@register("py", "goja", "js")
def py_transform(
    fn: Optional[Callable[[dict], Optional[dict]]] = None,
    filename: Optional[str] = None,
    source: Optional[str] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Arbitrary per-document transform, the goja/otto UDF contract:

    ``fn(doc) -> doc | None`` where ``doc = {"op", "ts", "ns", "data"}``
    with ``data`` a plain dict and ``ts`` UTC epoch micros (int, or
    None). The rules are the JavaScript ones (``_doc_udf``): returning
    None, or an ``op`` starting with ``s``, drops the document
    (goja.go:128-155); the function may mutate data and rewrite
    ns/op/ts, and a key it leaves out keeps the input's value; a
    ``data`` that is not a dict raises.

    Given ``filename``/``source`` instead of ``fn``, the transform is
    the reference's actual JavaScript contract — a file defining
    ``function transform(doc)`` (goja.go:62-84 reads the file verbatim
    into the VM) — executed by ``js_transform`` below. So an existing
    transporter ``.js`` transformer runs unchanged, and its body ports
    to ``fn`` line for line.

    Spark-first translation: the envelope payload is JSON-serialized,
    the function runs over Arrow record batches via ``mapInArrow``
    (never row-at-a-time over the wire), and emits 0..1 rows per input —
    the flatMap shape "return null to drop" needs. The payload stays a
    JSON string on output because the UDF may change its shape; callers
    re-type with ``envelope.parse_json_payload`` when needed.
    """
    if fn is None:
        if filename is None and source is None:
            raise ValueError("need fn=, filename= or source=")  # goja.go:74-76
        return js_transform(filename=filename, source=source)

    def call(ops, ts_us, nss, data_jsons):
        import json

        return [
            fn({"op": op, "ts": ts, "ns": ns, "data": json.loads(d) if d else {}})
            for op, ts, ns, d in zip(ops, ts_us, nss, data_jsons)
        ]

    return _doc_udf(call)


# ---------------------------------------------------------------------------
# js — the REAL JavaScript contract, executed by node (goja.go:53-126)
# ---------------------------------------------------------------------------

# Prepended to the user's source, on its first line so stack-trace line
# numbers stay the script's own: console.* goes to stderr, keeping
# stdout for protocol frames only.
_JS_PRELUDE = "globalThis.console = new console.Console(process.stderr); "

# Appended after the user's source: a long-lived batch loop. Each stdin
# line is one batch, a JSON array whose items are either a doc object or
# an ``[op, ts, ns, data]`` row (rebuilt as ``{op, ts, ns, data}``, in
# that key order); the reply is one line, the JSON array of results.
# stdin EOF (the Python worker went away) ends the process.
_JS_HARNESS = """
;(function () {
  function runBatch(line) {
    const out = JSON.parse(line).map(function (v) {
      const doc = Array.isArray(v) ? {op: v[0], ts: v[1], ns: v[2], data: v[3]} : v;
      const res = transform(doc);
      return JSON.stringify(res === undefined ? null : res);
    });
    process.stdout.write('[' + out.join(',') + ']\\n');
  }
  let parts = [];
  process.stdin.setEncoding('utf8');
  process.stdin.on('data', function (chunk) {
    let start = 0, nl;
    while ((nl = chunk.indexOf('\\n', start)) !== -1) {
      parts.push(chunk.slice(start, nl));
      runBatch(parts.join(''));
      parts = [];
      start = nl + 1;
    }
    if (start < chunk.length) parts.push(chunk.slice(start));
  });
  process.stdin.on('end', function () { process.exit(0); });
})();
"""


# The sys.modules entry holding this process's node co-processes:
# ``nodes`` maps a script digest to its child, ``lock`` guards it.
_JS_REGISTRY = "_transporter_js_nodes"


def _make_js_batch_runner(js_source: str):
    """Build the batch runner as a CLOSURE so cloudpickle serializes it
    by value (worker-closure invariant, see multimodal.decode_features):
    a module-level function here would be pickled as an import reference
    to this package, which breaks on executors without the repo on
    PYTHONPATH.

    The runner takes a batch of JSON texts, each a doc object or an
    ``[op, ts, ns, data]`` row, and returns the parsed results. It keeps
    one node process per Python process and script, in a registry under
    ``sys.modules`` — the closure itself is unpickled afresh for every
    task, so it cannot hold the process. A node that dies (an exception
    or ``process.exit`` in the script) fails its batch with its stderr;
    the next batch spawns a fresh one. The script's ``.js`` file is
    removed once node has answered its first batch, and node's stderr
    goes to an anonymous file, so a chatty script cannot fill a pipe
    nobody reads."""
    if js_source.startswith("#!"):
        js_source = "//" + js_source  # a hashbang is legal only at offset 0
    script = _JS_PRELUDE + js_source + _JS_HARNESS
    key = hashlib.sha256(script.encode()).hexdigest()
    registry_name = _JS_REGISTRY

    def spawn():
        import fcntl as _fcntl
        import os as _os
        import shutil as _shutil
        import subprocess as _subprocess
        import tempfile as _tempfile
        import types as _types

        node = _shutil.which("node")
        if node is None:  # pragma: no cover - node is present in CI image
            raise RuntimeError(
                "js transform needs a `node` executable on every executor; "
                "port the script to a python fn= (see README: js migration)"
            )
        with _tempfile.NamedTemporaryFile("w", suffix=".js", delete=False) as fh:
            fh.write(script)
        err = _tempfile.TemporaryFile()
        # O_APPEND: node writes at the end even after a per-batch truncate
        flags = _fcntl.fcntl(err, _fcntl.F_GETFL)
        _fcntl.fcntl(err, _fcntl.F_SETFL, flags | _os.O_APPEND)
        try:
            proc = _subprocess.Popen(
                [node, fh.name],
                stdin=_subprocess.PIPE, stdout=_subprocess.PIPE, stderr=err,
            )
        except BaseException:
            err.close()
            _os.unlink(fh.name)
            raise
        return _types.SimpleNamespace(proc=proc, err=err, path=fh.name)

    def close(child):
        """Close node's stdin (it exits on EOF), reap it and drop its
        stderr file; returns the exit code and the tail of its stderr."""
        import subprocess as _subprocess

        for pipe in (child.proc.stdin, child.proc.stdout):
            try:
                pipe.close()
            except OSError:
                pass
        try:
            code = child.proc.wait(timeout=10)
        except _subprocess.TimeoutExpired:
            child.proc.kill()
            code = child.proc.wait()
        child.err.seek(0)
        stderr = child.err.read().decode(errors="replace")[-2000:]
        child.err.close()
        return code, stderr

    def run_batch(items):
        import atexit as _atexit
        import json as _json
        import os as _os
        import sys as _sys
        import threading as _threading
        import types as _types

        reg = _sys.modules.get(registry_name)
        if reg is None:
            reg = _types.ModuleType(registry_name)
            reg.nodes, reg.lock = {}, _threading.Lock()
            _sys.modules[registry_name] = reg
            # reap the nodes at a clean exit; after os._exit (how Spark's
            # Python workers end) they see stdin EOF and exit by themselves
            _atexit.register(lambda: [close(c) for c in reg.nodes.values()])
        with reg.lock:
            child = reg.nodes.get(key)
            if child is None:
                child = reg.nodes[key] = spawn()
            child.err.truncate(0)
            try:
                child.proc.stdin.write(("[" + ",".join(items) + "]\n").encode())
                child.proc.stdin.flush()
                reply = child.proc.stdout.readline()
            except OSError:  # BrokenPipeError: node died before reading
                reply = b""
            if child.path is not None:  # node has loaded (or died on) it
                _os.unlink(child.path)
                child.path = None
            if not reply.endswith(b"\n"):
                del reg.nodes[key]
                code, stderr = close(child)
                raise RuntimeError(f"js transform failed (node exit {code}): {stderr}")
        return _json.loads(reply)

    return run_batch


def run_js_batch(js_source: str, docs: List[dict]) -> List[Optional[dict]]:
    """Execute ``function transform(doc)`` from ``js_source`` over a
    batch of envelope docs on this process's resident node for the
    script (spawned on first use, kept for the process's life, so script
    globals persist across calls); returns the transformed docs (None
    where the script returned null). Helper so the reference's
    goja_test.go cases port as direct fixtures."""
    return _make_js_batch_runner(js_source)(
        [json.dumps(d, default=str) for d in docs]
    )


def js_transform(
    filename: Optional[str] = None, source: Optional[str] = None
) -> Callable[[DataFrame], DataFrame]:
    """The reference's user-JS transformer, for real: a script defining
    ``function transform(doc)`` with ``doc = {op, ts, ns, data}``
    (goja.go:86-126). Contract parity (the rules live in ``_doc_udf``
    and are the same for a python ``fn``):

    - return the (possibly mutated) doc; ``data`` must stay an object
      or the pipeline errors (ErrInvalidMessageType, goja.go:142-151)
    - setting ``op`` to anything starting with 's' skips the message
      (ops.OpTypeFromString matches on the first byte, ops.go:45-62);
      returning null also drops it
    - ``ns``/``op`` rewrites propagate; ``ts`` is UTC epoch MICROS in
      every session timezone (int64 in JS-safe range; the reference
      hands goja unix nanos, which exceed 2^53 and corrupt in any
      JSON/number path)

    Spark shape: ``mapInArrow`` feeds each Arrow batch, as one protocol
    line, to a node process that lives as long as its Python worker (one
    per worker and script; no spawn per batch), never a VM call per row;
    executors run node locally, nothing crosses the network. Each input
    row is ``[op, ts_us, ns, <data_json>]`` with Spark's ``to_json`` text
    spliced in unparsed. Script globals live as long as the worker, not
    one batch.
    """
    batch_runner = _make_js_batch_runner(_script_source(filename, source))

    def call(ops, ts_us, nss, data_jsons):
        import json

        # op and ns take few distinct values: encode each once
        quoted = {v: json.dumps(v) for v in {*ops, *nss}}
        return batch_runner([
            f"[{quoted[op]},{'null' if ts is None else ts},{quoted[ns]},{d or '{}'}]"
            for op, ts, ns, d in zip(ops, ts_us, nss, data_jsons)
        ])

    return _doc_udf(call)


# ---------------------------------------------------------------------------
# otto/transformer — the legacy alias WITH the reference's underscore preload
# ---------------------------------------------------------------------------

# A minimal underscore.js-compatible shim covering the API surface otto
# transform scripts actually use. The reference's legacy `otto` type
# auto-preloads the full underscore library into the VM
# (function/ottojs/otto.go:48-212); scripts written for it call
# `_.map(...)` etc. without declaring anything. This shim is written
# from the public underscore API (each/map/filter/reduce and the
# object/array helpers) — NOT vendored code — and is prepended only
# for the otto/transformer aliases, so goja/js scripts keep the exact
# reference behavior of having no `_` unless they bring one.
_UNDERSCORE_SHIM = """var _ = (function () {
  var u = {};
  u.identity = function (v) { return v; };
  u.isArray = Array.isArray;
  u.isObject = function (v) { return typeof v === 'object' && v !== null; };
  u.isString = function (v) { return typeof v === 'string'; };
  u.isNumber = function (v) { return typeof v === 'number'; };
  u.isUndefined = function (v) { return v === undefined; };
  u.isNull = function (v) { return v === null; };
  u.has = function (o, k) {
    return o != null && Object.prototype.hasOwnProperty.call(o, k);
  };
  u.keys = function (o) { return o == null ? [] : Object.keys(o); };
  u.values = function (o) {
    return u.keys(o).map(function (k) { return o[k]; });
  };
  u.pairs = function (o) {
    return u.keys(o).map(function (k) { return [k, o[k]]; });
  };
  u.each = function (x, f) {
    if (u.isArray(x)) { for (var i = 0; i < x.length; i++) f(x[i], i, x); }
    else { u.keys(x).forEach(function (k) { f(x[k], k, x); }); }
    return x;
  };
  u.map = u.collect = function (x, f) {
    var out = [];
    u.each(x, function (v, k) { out.push(f(v, k, x)); });
    return out;
  };
  u.filter = u.select = function (x, p) {
    var out = [];
    u.each(x, function (v, k) { if (p(v, k, x)) out.push(v); });
    return out;
  };
  u.reduce = u.foldl = function (x, f, acc) {
    var seeded = arguments.length > 2;
    u.each(x, function (v, k) {
      if (!seeded) { acc = v; seeded = true; }
      else { acc = f(acc, v, k, x); }
    });
    return acc;
  };
  u.pluck = function (xs, k) {
    return u.map(xs, function (v) { return v == null ? undefined : v[k]; });
  };
  u.contains = u.includes = function (xs, v) {
    return xs.indexOf(v) !== -1;
  };
  u.first = u.head = u.take = function (xs, n) {
    return n === undefined ? xs[0] : xs.slice(0, Math.max(0, n));
  };
  u.last = function (xs, n) {
    return n === undefined ? xs[xs.length - 1]
                           : xs.slice(Math.max(0, xs.length - n));
  };
  u.uniq = function (xs) {
    var out = [];
    u.each(xs, function (v) { if (out.indexOf(v) === -1) out.push(v); });
    return out;
  };
  u.flatten = function (xs, shallow) {     // deep by default, like _
    var out = [];
    u.each(xs, function (v) {
      if (u.isArray(v)) {
        out = out.concat(shallow ? v : u.flatten(v));
      } else { out.push(v); }
    });
    return out;
  };
  u.extend = function (o) {
    for (var i = 1; i < arguments.length; i++) {
      var s = arguments[i];
      u.keys(s).forEach(function (k) { o[k] = s[k]; });
    }
    return o;
  };
  u.clone = function (o) {
    return u.isArray(o) ? o.slice() : u.isObject(o) ? u.extend({}, o) : o;
  };
  u.pick = function (o) {
    var ks = u.flatten(Array.prototype.slice.call(arguments, 1));
    var out = {};
    ks.forEach(function (k) { if (u.has(o, k)) out[k] = o[k]; });
    return out;
  };
  u.omit = function (o) {
    var ks = u.flatten(Array.prototype.slice.call(arguments, 1));
    var out = {};
    u.keys(o).forEach(function (k) {
      if (ks.indexOf(k) === -1) out[k] = o[k];
    });
    return out;
  };
  u.range = function (a, b, step) {
    if (b === undefined) { b = a || 0; a = 0; }
    if (!step) { step = b < a ? -1 : 1; }  // _.range(-5) counts down
    var out = [];
    for (var v = a; step > 0 ? v < b : v > b; v += step) out.push(v);
    return out;
  };
  u.size = function (x) {
    return u.isArray(x) || u.isString(x) ? x.length : u.keys(x).length;
  };
  return u;
})();
"""


@register("otto", "transformer")
def otto_transform(
    fn: Optional[Callable[[dict], Optional[dict]]] = None,
    filename: Optional[str] = None,
    source: Optional[str] = None,
) -> Callable[[DataFrame], DataFrame]:
    """The legacy otto/transformer aliases, at FULL reference parity:
    otto auto-preloads underscore.js into the VM
    (function/ottojs/otto.go:48-212), so a legacy script calling
    `_.map(...)` runs unchanged — the shim above is prepended to the
    script before the shared node runner. Everything else is the
    goja/js contract (same doc envelope, same drop/reroute rules);
    `fn=` passes straight through to the python path (no VM, nothing
    to preload). Closes the one documented migration deviation
    (README: "otto's bundled underscore.js is not auto-injected" —
    now it is, for the otto aliases)."""
    if fn is not None:
        return py_transform(fn=fn)
    return js_transform(source=_UNDERSCORE_SHIM + _script_source(filename, source))
