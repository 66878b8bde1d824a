"""copy_fanout — transporter's copy mode.

A ``dir`` source over four namespaces, a chain of Column transforms
(ns-scoped rename + skip on lineitem, remap on orders, then pick) and
two sinks: parquet for every namespace, jsonl after the pick. Closed
loop: one copy after another, each followed by reads of the copied
lineitem table. No Python hop and no streaming state; the work sits in
the file scan, the envelope, the transforms, the sink writers and the
per-edge re-scan of the shared source.
"""

from __future__ import annotations

import os
import re

import numpy as np

from perfbench import gen
from perfbench.harness import (Bench, add_job_layers, median, medians, noop_write, now,
                               percentile, quiet_stdout)

NAMESPACES = "^(lineitem|orders|customer|events)$"
RENAME = {"l_quantity": "qty", "l_extendedprice": "price"}
REMAP = {"orders": "orders_v2"}
#: full reads (every column hashed) of the copied lineitem after each
#: copy; a count() alone is a short job whose time is mostly scheduling
READS = 2
#: copies a run makes at least: the latency figures are taken over
#: copies, and a copy takes about a third of the window
MIN_COPIES = 3
PICK = ["l_orderkey", "qty", "price", "o_orderkey", "o_orderstatus",
        "o_totalprice", "c_custkey", "c_name", "event_id", "event_type", "value"]


def skip_threshold(seed: int) -> float:
    """Drawn from the seed; keeps 96% or 98% of lineitem, so the seed
    barely moves the rows a copy delivers."""
    return float(np.random.default_rng(seed).integers(1, 3))


def steps(thr: float, out_dir: str) -> list:
    """The pipeline as data, so the staged (traced) actions replay
    exactly the transforms each edge runs."""
    return [
        ("transform", "rename", "lineitem", {"field_map": RENAME}),
        ("transform", "skip", "lineitem", {"field": "qty", "operator": ">", "match": thr}),
        ("transform", "remap", "orders", {"ns_map": REMAP}),
        ("save", "parquet", None, {"path": os.path.join(out_dir, "parquet", "{ns}")}),
        ("transform", "pick", None, {"fields": PICK}),
        ("save", "jsonl", None, {"path": os.path.join(out_dir, "jsonl", "{ns}")}),
    ]


def build_pipeline(data_dir: str, plan: list):
    from transporter_spark.plans.pipeline import Pipeline

    p = Pipeline("copy_fanout").source("dir", path=data_dir, namespaces=NAMESPACES)
    for kind, name, ns, cfg in plan:
        p = p.transform(name, ns=ns, **cfg) if kind == "transform" else p.save(name, ns=ns, **cfg)
    return p


def edges(plan: list, names: list) -> list:
    """(ns, sink kind, index, transforms) per (namespace x sink) edge,
    in Pipeline.run's order."""
    out, pending, sinks = [], [], []
    for kind, name, ns, cfg in plan:
        if kind == "transform":
            pending.append((name, ns, cfg))
        else:
            sinks.append((name, list(pending)))
    for ns in names:
        for i, (kind, xfs) in enumerate(sinks):
            out.append((ns, kind, i, [(n, c) for n, o, c in xfs if not o or re.search(o, ns)]))
    return out


# -- reference ------------------------------------------------------------

_TYPES = {"qty": "DOUBLE", "price": "DOUBLE", "o_totalprice": "DOUBLE",
          "value": "DOUBLE", "o_orderstatus": "VARCHAR", "c_name": "VARCHAR",
          "event_type": "VARCHAR"}


def _digest_sql(relation: str, cols: list) -> str:
    """Row count and an order-independent content hash."""
    h = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return f"SELECT count(*), coalesce(sum(hash({h})), 0) FROM {relation}"


def reference(con, data_dir: str, thr: float, names: list) -> dict:
    """{edge name: (columns, rows, hash)} computed by DuckDB from the
    same source files."""
    from transporter_spark.envelope import ENVELOPE_FIELDS

    out = {}
    for ns in names:
        src = os.path.join(data_dir, f"{ns}.parquet")
        # to_envelope packs every column except the envelope's own names
        # (op/ts/ns/data) into the payload, so events.ts never reaches a sink
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
                if r[0] not in ENVELOPE_FIELDS]
        sel = ", ".join(f"{c} AS {RENAME.get(c, c)}" if ns == "lineitem" else c for c in cols)
        where = f"WHERE l_quantity > {thr}" if ns == "lineitem" else ""
        rel = f"(SELECT {sel} FROM '{src}' {where})"
        full = [RENAME.get(c, c) if ns == "lineitem" else c for c in cols]
        picked = [c for c in PICK if c in full]
        out[f"{ns} -> parquet[0]"] = (full, *con.execute(_digest_sql(rel, full)).fetchone())
        out[f"{ns} -> jsonl[1]"] = (picked, *con.execute(_digest_sql(rel, picked)).fetchone())
    return out


def check_outputs(con, out_dir: str, expected: dict) -> dict:
    """{edge: ok} comparing what the sinks wrote against the reference."""
    ok = {}
    for edge, (cols, rows, digest) in expected.items():
        ns, sink = edge.split(" -> ")
        if sink.startswith("parquet"):
            rel = f"read_parquet('{os.path.join(out_dir, 'parquet', ns)}/*.parquet')"
        else:
            types = ", ".join(f"'{c}': '{_TYPES.get(c, 'BIGINT')}'" for c in cols)
            rel = (f"read_json('{os.path.join(out_dir, 'jsonl', ns)}/*.json', "
                   f"format='newline_delimited', columns={{{types}}})")
        got = con.execute(_digest_sql(rel, cols)).fetchone()
        ok[edge] = tuple(got) == (rows, digest)
    return ok


# -- the workload -----------------------------------------------------------

def run(b: Bench) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from transporter_spark.envelope import from_envelope, to_envelope
    from transporter_spark.registry import build_operator
    from transporter_spark.sources.catalog import expand_namespaces, list_dir_namespaces
    from transporter_spark.sources.files import read_table

    thr = skip_threshold(b.seed)
    out_dir = b.path("out")

    def prepare(d):
        gen.write_tables(os.path.join(d, "data"), b.seed, b.scale)
        return os.path.join(d, "data")

    def warm(data_dir):
        with quiet_stdout():
            build_pipeline(data_dir, steps(thr, b.path("warm-out"))).run(b.spark)
        b.spark.read.parquet(b.path("warm-out", "parquet", "lineitem")).count()

    data_dir = b.setup(prepare, warm)
    spark = b.spark
    names = expand_namespaces(list_dir_namespaces(data_dir), NAMESPACES)
    plan = steps(thr, out_dir)
    pipeline = build_pipeline(data_dir, plan)
    con = duckdb.connect()
    expected = reference(con, data_dir, thr, names)
    rows_per_copy = sum(rows for _, rows, _ in expected.values())
    lineitem_rows = expected["lineitem -> parquet[0]"][1]

    copy_s, read_s, traced_s, plain_s = [], [], [], []
    jobs = 0
    layers = {}  # per-layer metric -> one value per traced iteration
    deadline = now() + b.seconds
    it_s = []  # wall time of each iteration
    i = 0
    # an iteration starts only if it is expected to end within the window
    while len(copy_s) < MIN_COPIES or now() + median(it_s) <= deadline:
        t_it = now()
        i += 1
        traced = b.trace and i % 2 == 0
        b.tracer.enabled = traced
        b.tracer.iteration = i
        with b.tracer.span("copy"):
            with b.job_group("copy") as st, quiet_stdout():
                t0 = now()
                try:
                    event = pipeline.run(spark)
                except Exception as e:  # a failed copy fails all its edges
                    b.notes.append(f"copy raised {type(e).__name__}: {e}")
                    event = {"rows": {}}
                dt = now() - t0
        for edge, (_, rows, _) in expected.items():
            b.op(event["rows"].get(edge) == rows, f"copy edge {edge}")
        copy_s.append(dt)
        jobs += st["jobs"]
        (traced_s if traced else plain_s).append(dt)
        for _ in range(READS):
            with b.tracer.span("read"):
                t0 = now()
                got = spark.read.parquet(os.path.join(out_dir, "parquet", "lineitem"))
                n = got.select(F.count("*"), F.max(F.xxhash64(*got.columns))).first()[0]
                read_s.append(now() - t0)
            b.op(n == lineitem_rows, "read copied lineitem")
        if not traced:
            it_s.append(now() - t_it)
            continue
        # staged actions on the noop sink: scan -> +envelope ->
        # +transforms; each stage's self time is its difference from
        # the stage before it, the sink's is the copy minus the last
        with b.tracer.span("stage.expand"):
            t0 = now()
            expand_namespaces(list_dir_namespaces(data_dir), NAMESPACES)
            t_expand = now() - t0
        t_scan, t_env, t_xf = {}, {}, {}
        for ns in names:
            with b.tracer.span("stage.scan", ns=ns):
                t0 = now()
                noop_write(read_table(spark, data_dir, ns))
                t_scan[ns] = now() - t0
            with b.tracer.span("stage.envelope", ns=ns):
                t0 = now()
                noop_write(to_envelope(read_table(spark, data_dir, ns), ns=ns))
                t_env[ns] = now() - t0
        all_edges = edges(plan, names)
        for ns, kind, idx, xfs in all_edges:
            with b.tracer.span("stage.transforms", ns=ns, sink=kind):
                t0 = now()
                df = to_envelope(read_table(spark, data_dir, ns), ns=ns)
                for name, cfg in xfs:
                    df = build_operator(name, **cfg)(df)
                noop_write(from_envelope(df))
                t_xf[(ns, idx)] = now() - t0
        for name, value in (
            ("sources.catalog.expand_s", t_expand),
            ("sources.files.scan_s", sum(t_scan[ns] for ns, *_ in all_edges)),
            ("envelope.wrap_s", sum(t_env[ns] - t_scan[ns] for ns, *_ in all_edges)),
            ("operators.transforms.column_s",
             sum(t_xf[(ns, idx)] - t_env[ns] for ns, _, idx, _ in all_edges)),
            ("operators.transforms.rows_out_ratio", rows_per_copy / max(1, st["input_records"])),
            ("plans.pipeline.write_s", dt - sum(t_xf.values())),
        ):
            layers.setdefault(name, []).append(value)
        add_job_layers(layers, st)
        it_s.append(now() - t_it)
    b.tracer.enabled = b.trace

    # correctness gate: the last copy's sink contents against DuckDB
    for edge, ok in check_outputs(con, out_dir, expected).items():
        b.check(ok, f"content of {edge}")
    con.close()

    b.e2e = {
        "rows_per_s": rows_per_copy / median(copy_s),
        "latency_p50_s": median(copy_s),
        "latency_p90_s": percentile(copy_s, 90),
        "read_p50_s": median(read_s),
    }
    b.samples = {"copies": len(copy_s), "jobs": jobs, "reads": len(read_s),
                 "rows_per_copy": rows_per_copy, "copy_s": [round(x, 3) for x in copy_s],
                 "read_s": [round(x, 3) for x in read_s]}
    if b.trace:
        b.layers.update(medians(layers))
        b.overhead(plain_s, traced_s)
    return b.e2e
