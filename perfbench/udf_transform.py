"""udf_transform — per-document UDF transforms, the goja/otto contract.

Email-shaped documents go through ``Pipeline.run`` into a parquet sink
twice per iteration: once through a ``py`` transform and once through
the same logic as a ``js`` ``function transform(doc)``. Closed loop.
Almost all the work is the Python / node per-document hop (mapInPandas
and one node subprocess per Arrow batch); the CDC and streaming-state
layers do none. ``copy_fanout`` is its bypass case: the same pipeline
runner with Column transforms only.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from perfbench import gen
from perfbench.harness import (Bench, add_job_layers, median, medians, noop_write, now,
                               percentile, quiet_stdout)

#: documents at scale 1.0 (the sizing is in NOTES.md)
DOCS = 16_000
#: reads of a pass's output after the pass (a read is a short job)
READS = 2
#: py+js iterations a run makes at least
MIN_ITERATIONS = 3

JS_SOURCE = r"""
function transform(doc) {
  var d = doc.data;
  if (d.body.indexOf("unsubscribe") !== -1) return null;
  var h = d.headers;
  var rcpts = d.to.concat(d.cc);
  var sender = h.from.toLowerCase();
  var at = sender.split("@");
  var folder = h.x_folder.split("/");
  doc.data = {
    msg_id: d.msg_id,
    from: sender,
    domain: at[at.length - 1],
    subject: h.subject.trim(),
    n_rcpt: rcpts.length,
    internal: rcpts.filter(function (r) { return r.endsWith("@enron.com"); }).length,
    words: d.body.split(/\s+/).filter(function (w) { return w.length > 0; }).length,
    folder: folder[folder.length - 1]
  };
  return doc;
}
"""


def transform_email(doc):
    """The ``py`` twin of JS_SOURCE (ASCII inputs, so case folding,
    trimming and whitespace splitting agree with JavaScript's)."""
    d = doc["data"]
    if "unsubscribe" in d["body"]:
        return None
    h = d["headers"]
    rcpts = d["to"] + d["cc"]
    sender = h["from"].lower()
    doc["data"] = {
        "msg_id": d["msg_id"],
        "from": sender,
        "domain": sender.split("@")[-1],
        "subject": h["subject"].strip(),
        "n_rcpt": len(rcpts),
        "internal": sum(1 for r in rcpts if r.endswith("@enron.com")),
        "words": len(d["body"].split()),
        "folder": h["x_folder"].split("/")[-1],
    }
    return doc


def _pipeline(src: str, out: str, op: str, cfg: dict):
    from transporter_spark.plans.pipeline import Pipeline

    return (Pipeline(f"udf_{op}")
            .source("parquet", path=src, ns="emails")
            .transform(op, **cfg)
            .save("parquet", path=out))


def _canonical(json_strings) -> Counter:
    return Counter(json.dumps(json.loads(s), sort_keys=True) for s in json_strings)


def _sink_rows(path: str) -> Counter:
    import pyarrow.parquet as pq

    return _canonical(pq.read_table(path, columns=["json"]).column("json").to_pylist())


def run(b: Bench) -> dict:
    from transporter_spark.envelope import from_envelope, to_envelope
    from transporter_spark.registry import build_operator

    n_docs = max(50, int(DOCS * b.scale))
    docs = gen.email_docs(b.seed, n_docs)
    cfg = {"py": {"fn": transform_email}, "js": {"source": JS_SOURCE}}

    def prepare(d):
        return gen.write_emails(os.path.join(d, "emails.parquet"), docs)

    def warm(src):
        for op in ("py", "js"):
            with quiet_stdout():
                _pipeline(src, b.path("warm-out", op), op, cfg[op]).run(b.spark)
            b.spark.read.parquet(b.path("warm-out", op)).count()

    src = b.setup(prepare, warm)
    spark = b.spark
    out = {op: b.path("out", op) for op in ("py", "js")}
    pipes = {op: _pipeline(src, out[op], op, cfg[op]) for op in ("py", "js")}
    # the plain-Python reference application of the same function
    want = _canonical(
        json.dumps(r["data"]) for r in
        (transform_email({"op": "insert", "ts": None, "ns": "emails", "data": json.loads(json.dumps(d))})
         for d in docs) if r is not None)
    kept = sum(want.values())
    edge = "emails -> parquet[0]"

    pass_s = {"py": [], "js": []}
    job_s, read_s, traced_s, plain_s = [], [], [], []
    layers = {}  # per-layer metric -> one value per traced iteration
    deadline = now() + b.seconds
    it_s = []  # wall time of each iteration
    i = 0
    # an iteration starts only if it is expected to end within the window
    while len(pass_s["js"]) < MIN_ITERATIONS or now() + median(it_s) <= deadline:
        t_it = now()
        i += 1
        traced = b.trace and i % 2 == 0
        b.tracer.enabled = traced
        b.tracer.iteration = i
        stats = {}
        for op in ("py", "js"):
            with b.tracer.span(f"pass.{op}"):
                with b.job_group(f"udf-{op}") as stats[op], quiet_stdout():
                    t0 = now()
                    try:
                        rows = pipes[op].run(spark)["rows"].get(edge)
                    except Exception as e:
                        b.notes.append(f"{op} pass raised {type(e).__name__}: {e}")
                        rows = None
                    dt = now() - t0
            pass_s[op].append(dt)
            job_s.extend(stats[op]["job_s"])
            b.op(rows == kept, f"{op} pass rows")
            if op == "py":
                (traced_s if traced else plain_s).append(dt)
            for _ in range(READS):
                with b.tracer.span("read", op=op):
                    t0 = now()
                    n = spark.read.parquet(out[op]).count()
                    read_s.append(now() - t0)
                b.op(n == kept, f"read {op} output")
        if not traced:
            it_s.append(now() - t_it)
            continue
        # staged actions on the noop sink: scan -> +envelope -> +UDF
        with b.tracer.span("stage.scan"):
            t0 = now()
            noop_write(spark.read.parquet(src))
            t_scan = now() - t0
        with b.tracer.span("stage.envelope"):
            t0 = now()
            noop_write(to_envelope(spark.read.parquet(src), ns="emails"))
            t_env = now() - t0
        t_xf = {}
        for op in ("py", "js"):
            with b.tracer.span(f"stage.{op}"):
                t0 = now()
                env = to_envelope(spark.read.parquet(src), ns="emails")
                noop_write(from_envelope(build_operator(op, **cfg[op])(env)))
                t_xf[op] = now() - t0
        for name, value in (
            ("sources.files.scan_s", t_scan),
            ("envelope.wrap_s", t_env - t_scan),
            ("operators.transforms.py_s", t_xf["py"] - t_env),
            ("operators.transforms.js_s", t_xf["js"] - t_env),
            # mapInPandas runs inside the scan's stage (no shuffle between
            # them), so that stage's tasks are the UDF's
            ("operators.transforms.udf_tasks", stats["py"]["scan_tasks"]),
            ("plans.pipeline.write_s", pass_s["py"][-1] - t_xf["py"]),
        ):
            layers.setdefault(name, []).append(value)
        add_job_layers(layers, stats["py"])
        it_s.append(now() - t_it)
    b.tracer.enabled = b.trace

    # correctness gate: py output == js output == plain Python
    got = {op: _sink_rows(out[op]) for op in ("py", "js")}
    b.check(got["py"] == want, "py output equals plain-Python application")
    b.check(got["js"] == want, "js output equals plain-Python application")

    b.e2e = {
        "rows_per_s": n_docs / median(pass_s["py"]),
        "latency_p50_s": median(pass_s["js"]),
        "latency_p90_s": percentile(job_s, 90),
        "read_p50_s": median(read_s),
    }
    b.samples = {"py_passes": len(pass_s["py"]), "js_passes": len(pass_s["js"]),
                 "jobs": len(job_s), "reads": len(read_s), "docs": n_docs, "kept": kept,
                 "js_rows_per_s": n_docs / median(pass_s["js"]),
                 "py_pass_s": [round(x, 3) for x in pass_s["py"]],
                 "js_pass_s": [round(x, 3) for x in pass_s["js"]]}
    if b.trace:
        b.layers.update(medians(layers))
        b.layers["operators.transforms.rows_out_ratio"] = kept / n_docs
        b.overhead(plain_s, traced_s)
    return b.e2e
