"""CLI — the `transporter` command analog (cmd/transporter/main.go:44-60).

Subcommand parity:

| reference (`transporter ...`)     | here (`python -m transporter_spark ...`) |
|-----------------------------------|------------------------------------------|
| run [pipeline.js]                 | run [pipeline.json]                      |
| test [pipeline.js] (dry-run desc) | test [pipeline.json]                     |
| about [adaptor]                   | about [name]                             |
| init                              | init [dir]                               |
| xlog current/oldest/show          | xlog current/oldest/show <checkpoint>    |
| offset list/show/mark             | offset list/show/mark <checkpoint> ...   |
| (no analog: commitlog compactor   | state show/compact <state_dir> — inspect |
|  runs only inside the pipeline)   | or fold a sink's manifest/segment state  |

The "query language" difference is deliberate: the reference evaluates
a JavaScript DSL in a goja VM (cmd/transporter/goja_builder.go:31-56);
here the pipeline spec is plain JSON handed to the same builder the
Python API uses, so there is exactly one pipeline semantics. What IS
kept verbatim is the textual `${FOO}` environment-variable substitution
applied to the raw config before parsing (goja_builder.go:60-74).

`run` executes the config with `Pipeline.run`, or with
`Pipeline.run_stream` when it has a `"streaming": {"checkpoint": dir,
"available_now": true}` block — so one config format covers copy, UDF
and CDC tail sync (`jsonl_tail` source, `cdc` sink). With
`"available_now": false` (sync mode) it prints the boot event and
waits on the queries until they stop (exit 0) or one fails (exit 1,
the error on stderr). The source and
sink kinds, and the mode each runs in, come from the runner's two
tables (`plans.pipeline.SOURCES` / `SINKS`), which `about` lists.
"""

from __future__ import annotations

import json
import os
import re
import sys
from typing import List, Optional

from transporter_spark.plans.pipeline import SINKS, SOURCES, Pipeline

_ENV_RE = re.compile(r"\$\{(\w+)\}")

SAMPLE_CONFIG = {
    "name": "sample",
    "source": {"kind": "dir", "path": "${SF_DIR}", "namespaces": "lineitem|orders"},
    "steps": [
        {
            "transform": {
                "op": "skip",
                "ns": "lineitem",
                "field": "l_quantity",
                "operator": ">",
                "match": 10,
            }
        },
        {"save": {"kind": "parquet", "path": "/tmp/out/{ns}"}},
    ],
}


def substitute_env(raw: str, env: Optional[dict] = None) -> str:
    """Textual `${FOO}` substitution on the raw config string — the
    reference does this BEFORE parsing (goja_builder.go:60-74,
    setConfigEnvironment), so the substitution is oblivious to JSON
    structure. Unset vars substitute to the EMPTY string, exactly like
    the reference's os.Getenv-backed replacement — a missing env var
    yields "" in the config, not a literal ${FOO}."""
    env = env if env is not None else dict(os.environ)
    return _ENV_RE.sub(lambda m: str(env.get(m.group(1), "")), raw)


def pipeline_from_config(cfg: dict) -> Pipeline:
    """Build a Pipeline from a parsed config dict. `steps` is an
    ordered list of {"transform": {...}} / {"save": {...}} entries —
    the sequential Source().Transform().Save() chain of the reference's
    DSL, one-to-one."""
    p = Pipeline(cfg.get("name", "pipeline"))
    src = dict(cfg["source"])
    p.source(src.pop("kind"), **src)
    for step in cfg.get("steps", []):
        if "transform" in step and "save" in step:
            raise ValueError("a step is either a transform or a save, not both")
        if "transform" in step:
            t = dict(step["transform"])
            p.transform(t.pop("op"), ns=t.pop("ns", None), **t)
        elif "save" in step:
            s = dict(step["save"])
            p.save(s.pop("kind"), ns=s.pop("ns", None), **s)
        else:
            raise ValueError(f"unknown step {step!r}")
    if not p._sinks:
        raise ValueError("pipeline config has no save step")
    return p


def load_config(path: str, env: Optional[dict] = None) -> dict:
    with open(path) as f:
        raw = f.read()
    return json.loads(substitute_env(raw, env))


def describe(cfg: dict) -> dict:
    """`transporter test` analog: resolve and describe the pipeline
    without running it (run.go `runTest` prints the node tree)."""
    p = pipeline_from_config(cfg)
    kind, scfg = p._source
    return {
        "pipeline": p.name,
        "source": {"kind": kind, **{k: str(v) for k, v in scfg.items()}},
        "edges": [
            {
                "sink": e.kind,
                "ns": e.ns_pattern or ".*",
                "transforms": [
                    {"op": op, "ns": ns or ".*", **{k: str(v) for k, v in c.items()}}
                    for op, ns, c in e.transforms
                ],
            }
            for e in p._sinks
        ],
    }


def about(name: Optional[str] = None) -> dict:
    """`transporter about` analog: list every registered adaptor kind
    and transform operator (adaptor/registry.go:10-33,
    function/registry.go:22-45); with a name, show its doc."""
    from transporter_spark.registry import OPERATORS, _ensure_loaded

    _ensure_loaded()
    if name:
        if name in OPERATORS:
            fac = OPERATORS[name]
            return {"operator": name, "doc": (fac.__doc__ or "").strip()}
        roles = [r for r, kinds in (("source", SOURCES), ("sink", SINKS)) if name in kinds]
        if roles:
            return {"adaptor": name, "roles": roles}
        return {"error": f"unknown adaptor/operator {name!r}"}
    return {
        "sources": list(SOURCES),
        "sinks": list(SINKS),
        "operators": sorted(OPERATORS),
    }


def _get_spark():
    from transporter_spark.session import get_spark

    return get_spark("transporter-spark-cli")


def main(argv: Optional[List[str]] = None) -> int:
    argv = list(argv) if argv is not None else sys.argv[1:]
    if not argv:
        print(__doc__)
        return 2
    cmd, rest = argv[0], argv[1:]

    if cmd == "run":
        cfg = load_config(rest[0] if rest else "pipeline.json")
        p = pipeline_from_config(cfg)
        stream = cfg.get("streaming")
        if stream:
            event = p.run_stream(
                _get_spark(),
                stream["checkpoint"],
                available_now=stream.get("available_now", True),
            )
        else:
            event = p.run(_get_spark())
        if event["event"] == "exit":
            print(json.dumps(event))
            return 0
        # sync mode: the queries run until stopped or failed, and die
        # with this process, so wait on them here
        handles = event["queries"]
        print(json.dumps({**event, "queries": list(handles)}), flush=True)
        from pyspark.errors import StreamingQueryException

        for name, handle in handles.items():
            try:
                handle.awaitTermination()
            except StreamingQueryException as e:
                print(f"{name}: {e}", file=sys.stderr)
                return 1
        return 0

    if cmd == "test":
        cfg = load_config(rest[0] if rest else "pipeline.json")
        print(json.dumps(describe(cfg), indent=2))
        return 0

    if cmd == "about":
        print(json.dumps(about(rest[0] if rest else None), indent=2))
        return 0

    if cmd == "init":
        target = os.path.join(rest[0] if rest else ".", "pipeline.json")
        if os.path.exists(target):
            print(f"{target} already exists", file=sys.stderr)
            return 1
        with open(target, "w") as f:
            json.dump(SAMPLE_CONFIG, f, indent=2)
        print(f"wrote {target}")
        return 0

    if cmd == "xlog":
        from transporter_spark.tools import checkpoint_state

        sub = rest[0] if rest else "show"
        if len(rest) < 2:
            print("usage: xlog current|oldest|show <checkpoint>")
            return 2
        state = checkpoint_state(rest[1])
        if sub == "current":
            print(state["current_batch"])
        elif sub == "oldest":
            print(state["oldest_batch"])
        else:
            print(json.dumps(state, indent=2, default=str))
        return 0

    if cmd == "offset":
        from transporter_spark.tools import (
            delete_offset,
            list_offsets,
            mark_offset,
        )

        usage = (
            "usage: offset list|show|mark|delete <checkpoint> "
            "[batch entries...] [--force]\n"
            "       (--force comes AFTER the positional args: it is "
            "parsed from the trailing tokens)"
        )

        def _batch_arg():
            # int() is the authority: lstrip('-').isdigit() accepts
            # "--5" and non-decimal digit characters (superscripts,
            # vulgar fractions — str.isdigit() is true for them) that
            # int() then rejects with an uncaught ValueError
            # (review r13; reworded per ADVICE r13 — int() does
            # accept non-ASCII *decimal* digits)
            try:
                return int(rest[2]) if len(rest) >= 3 else None
            except ValueError:
                return None

        sub = rest[0] if rest else "list"
        if sub in ("list", "show"):
            if len(rest) < 2:
                print(usage)
                return 2
            print(json.dumps(list_offsets(rest[1]), indent=2, default=str))
        elif sub == "mark":
            batch = _batch_arg()
            if batch is None:
                print(usage)
                return 2
            path = mark_offset(rest[1], batch, rest[3:])
            print(f"wrote {path}")
        elif sub == "delete":
            # mark's pair: the reference's offset delete verb
            # (cmd/transporter/offset.go) — drop one batch's offsets +
            # commit marker so a restart re-plans from the prior batch
            batch = _batch_arg()
            if batch is None:
                print(usage)
                return 2
            try:
                force = "--force" in rest[3:]
                for path in delete_offset(rest[1], batch, force=force):
                    print(f"removed {path}")
            except (FileNotFoundError, ValueError) as e:
                print(str(e), file=sys.stderr)
                return 1
        else:
            print(usage)
            return 2
        return 0

    if cmd == "state":
        from transporter_spark.streaming.state import SegmentStore

        usage = "usage: state show|compact <state_dir>"
        sub = rest[0] if rest else "show"
        if sub not in ("show", "compact") or len(rest) < 2:
            print(usage)
            return 2
        store = SegmentStore(rest[1])
        manifest = store.manifest()
        if manifest is None:
            print(f"no committed state at {rest[1]!r}", file=sys.stderr)
            return 1
        if sub == "show":
            # manifest + per-segment file counts: the operator's view of
            # log growth (reference analog: the xlog/offset inspectors)
            summary = {
                "epoch": manifest["epoch"],
                "tables": {
                    t: {
                        "segments": len(segs),
                        "files": sum(
                            len(os.listdir(store.seg_path(s)))
                            for s in segs
                            if os.path.isdir(store.seg_path(s))
                        ),
                    }
                    for t, segs in manifest.get("tables", {}).items()
                },
                "keyed": {
                    t: {"keys": len(m), "segments": len(set(m.values()))}
                    for t, m in manifest.get("keyed", {}).items()
                },
                "meta": manifest.get("meta", {}),
                "gc_pending": len(manifest.get("gc", [])),
            }
            print(json.dumps(summary, indent=2))
            return 0
        # compact — ONLY safe while no sink is writing this state (the
        # manifest read-modify-write is single-writer); live streams
        # should use the sinks' compact_every instead
        spark = _get_spark()
        folded = False
        if "keys" in manifest.get("meta", {}):
            # a CDC state: the generic fold would keep every superseded
            # version per key forever — use the LWW-aware compactor
            from transporter_spark.streaming.cdc import compact_cdc_table

            folded = compact_cdc_table(spark, rest[1])
        elif "span_w" in manifest.get("meta", {}):
            # a span-df state: the generic union fold is correct under
            # merge-on-read SUM but keeps every per-epoch partial row —
            # the family compactor pre-sums the index (and folds the
            # prune loop's corpus when present)
            from transporter_spark.streaming.spans import compact_span_index

            folded = compact_span_index(spark, rest[1])
        else:
            # every list table folds under ONE commit: a commit per table
            # would purge the previous table's replaced segments at once
            folded = store.compact_tables_commit(spark, list(manifest.get("tables", {})))
            for t in manifest.get("keyed", {}):
                folded = store.compact_keyed_commit(spark, t) or folded
        print("compacted" if folded else "already compact")
        return 0

    print(
        f"unknown subcommand {cmd!r}; one of run/test/about/init/xlog/offset/state"
    )
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
