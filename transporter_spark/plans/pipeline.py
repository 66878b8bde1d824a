"""Declarative pipeline spec + runner — the engine's analog of the
reference's JS pipeline DSL (cmd/transporter/goja_builder.go:31-293):

    t.Source(name, adaptor, ns).Transform(fn, ns).Save(name, adaptor, ns)

becomes

    (Pipeline("p")
        .source("dir", path=sf_dir, namespaces="lineitem|orders")
        .transform("skip", field="l_quantity", operator=">", match=10, ns="lineitem")
        .save("parquet", path="/out/{ns}")
        .save("jsonl", path="/out2/{ns}", ns="lineitem"))
        .run(spark)

Differences from the reference, by design:
- The Node tree + goroutine pipes + channel fan-out
  (pipeline/node.go:56-85, pipe/pipe.go:26-30) collapse into N
  DataFrame plans sharing one source scan: fan-out costs nothing until
  action time, and Spark schedules the partitions.
- Namespace regex filtering happens at TWO levels, like the reference:
  table-level pruning before any scan (sources/catalog.py — the
  reference's listing filter, mongodb/reader.go:95-113) and row-level
  ``ns`` filtering per edge (pipeline/node.go:522-531).
- The commitlog/offset/ack machinery is not ported: batch runs are
  idempotent whole-jobs; streaming runs use checkpoints
  (transporter_spark.streaming).
- Per-edge metrics come from Spark's Observation API instead of the
  events channel ticker (events/emitter.go:36-150).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from transporter_spark.envelope import from_envelope, to_envelope
from transporter_spark.registry import build_operator
from transporter_spark.sources.catalog import expand_namespaces, list_dir_namespaces
from transporter_spark.sources.files import read_table


@dataclass
class _Edge:
    kind: str
    config: dict
    ns_pattern: Optional[str]
    transforms: List[Tuple[str, Optional[str], dict]]  # (op, ns_pattern, cfg)


@dataclass
class Pipeline:
    name: str = "pipeline"
    _source: Optional[Tuple[str, dict]] = None
    _pending: List[Tuple[str, Optional[str], dict]] = field(default_factory=list)
    _sinks: List[_Edge] = field(default_factory=list)

    # -- builder surface (mirrors Source/Transform/Save) ------------------

    def source(self, kind: str, **config) -> "Pipeline":
        if self._source is not None:
            raise ValueError("pipeline already has a source")
        self._source = (kind, config)
        return self

    def transform(self, op: str, ns: Optional[str] = None, **config) -> "Pipeline":
        """Queue a transform; it applies to every sink added after it
        (the reference accumulates transforms onto the edge the same
        way, goja_builder.go:217-242). `ns` restricts it to matching
        namespaces — non-matching rows pass through untouched
        (pipeline/node.go:599-601)."""
        self._pending.append((op, ns, config))
        return self

    def save(self, kind: str, ns: Optional[str] = None, **config) -> "Pipeline":
        self._sinks.append(
            _Edge(kind=kind, config=config, ns_pattern=ns, transforms=list(self._pending))
        )
        return self

    # -- execution ---------------------------------------------------------

    def _load_source(self, spark: SparkSession) -> Dict[str, DataFrame]:
        """Returns {namespace: envelope DataFrame}."""
        kind, cfg = self._source
        if kind == "dir":
            base = cfg["path"]
            pattern = cfg.get("namespaces", ".*")
            names = expand_namespaces(list_dir_namespaces(base), pattern)
            return {
                ns: to_envelope(read_table(spark, base, ns), ns=ns)
                for ns in names
            }
        if kind == "parquet":
            ns = cfg.get("ns", cfg["path"])
            return {ns: to_envelope(spark.read.parquet(cfg["path"]), ns=ns)}
        if kind == "jsonl":
            ns = cfg.get("ns", cfg["path"])
            reader = spark.read
            if "schema" in cfg:
                reader = reader.schema(cfg["schema"])
            return {ns: to_envelope(reader.json(cfg["path"]), ns=ns)}
        if kind == "dataframe":  # tests / embedding
            ns = cfg.get("ns", "df")
            return {ns: to_envelope(cfg["df"], ns=ns)}
        if kind == "jdbc":  # gated: needs a driver jar + reachable DB
            from transporter_spark.sources import jdbc as jdbc_mod

            ns = cfg.get("ns", cfg["table"])
            df = jdbc_mod.read_jdbc(
                spark,
                cfg["url"],
                cfg["table"],
                partition_column=cfg.get("partition_column"),
                num_partitions=int(cfg.get("num_partitions", 16)),
                lower_bound=cfg.get("lower_bound"),
                upper_bound=cfg.get("upper_bound"),
                **cfg.get("options", {}),
            )
            return {ns: to_envelope(df, ns=ns)}
        raise ValueError(f"unknown source kind {kind!r}")

    def _apply_edge(self, df: DataFrame, ns: str, edge: _Edge) -> Optional[DataFrame]:
        import re

        if edge.ns_pattern and not re.search(edge.ns_pattern, ns):
            return None  # table-level prune: never even plan this edge
        for op, op_ns, cfg in edge.transforms:
            if op_ns and not re.search(op_ns, ns):
                continue
            df = build_operator(op, **cfg)(df)
        return df

    def _write(
        self, df: DataFrame, ns: str, edge: _Edge, spark: SparkSession
    ) -> int:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        kind, cfg = edge.kind, edge.config
        unwrap = cfg.get("unwrap", True)
        out = from_envelope(df) if unwrap and "data" in df.columns else df
        mode = cfg.get("mode", "overwrite")
        if kind == "parquet":
            out.write.mode(mode).parquet(cfg["path"].format(ns=ns))
        elif kind == "jsonl":
            out.write.mode(mode).json(cfg["path"].format(ns=ns))
        elif kind == "console":
            out.show(cfg.get("rows", 20), truncate=False)
        elif kind == "memory":
            out.createOrReplaceTempView(cfg.get("view", "out_{ns}").format(ns=ns))
            # temp view is lazy; force for metric parity
            return out.count()
        elif kind == "jdbc":  # gated: append-mode write (CDC upsert via
            # streaming foreachBatch + sources.jdbc.jdbc_cdc_sink)
            out.write.mode(cfg.get("mode", "append")).jdbc(
                cfg["url"], cfg.get("table", ns), properties=cfg.get("properties", {})
            )
        else:
            raise ValueError(f"unknown sink kind {kind!r}")
        return obs.get["rows"] if obs.get else 0

    # -- streaming execution ----------------------------------------------

    def _load_stream_source(self, spark: SparkSession) -> Dict[str, DataFrame]:
        """Streaming twin of _load_source: {namespace: streaming
        envelope}. Schemas come from a batch peek (streams need them
        explicit)."""
        kind, cfg = self._source
        if kind == "jsonl":
            ns = cfg.get("ns", cfg["path"])
            schema = cfg.get("schema") or spark.read.json(cfg["path"]).schema
            return {ns: to_envelope(spark.readStream.schema(schema).json(cfg["path"]), ns=ns)}
        if kind == "dir":
            from transporter_spark.streaming.sources import stream_envelope

            base = cfg["path"]
            pattern = cfg.get("namespaces", ".*")
            names = expand_namespaces(list_dir_namespaces(base), pattern)
            return {ns: stream_envelope(spark, base, ns) for ns in names}
        raise ValueError(f"source kind {kind!r} has no streaming reader")

    def run_stream(
        self,
        spark: SparkSession,
        checkpoint_root: str,
        available_now: bool = True,
    ) -> dict:
        """Streaming execution — the reference's actual operating mode
        (a resumable sync daemon, pipeline/node.go:439-509).

        Every (namespace x sink) edge becomes its own writeStream with
        its own checkpoint directory under ``checkpoint_root`` — the
        exact analog of the reference's PER-SINK consumer offsets
        (offset/logmanager.go:14-131): each sink tracks its own resume
        point, a lagging sink re-reads only its own backlog, and a
        re-run after new source data moves only the delta (proven by
        tests/test_pipeline.py resume test).

        available_now=True = the reference's copy-then-exit mode; False
        leaves continuous micro-batch queries running (sync mode) and
        returns the handles.
        """
        import re as _re

        if self._source is None or not self._sinks:
            raise ValueError("pipeline needs a source and at least one sink")
        frames = self._load_stream_source(spark)
        metrics: Dict[str, int] = {}
        queries = []
        for ns, env in frames.items():
            for i, edge in enumerate(self._sinks):
                routed = self._apply_edge(env, ns, edge)
                if routed is None:
                    continue
                kind, cfg = edge.kind, edge.config
                unwrap = cfg.get("unwrap", True)
                out = from_envelope(routed) if unwrap and "data" in routed.columns else routed
                edge_id = f"{ns}_{kind}_{i}"
                safe = _re.sub(r"[^A-Za-z0-9_]", "_", edge_id)
                writer = out.writeStream.option(
                    "checkpointLocation", f"{checkpoint_root}/{safe}"
                )
                if available_now:
                    writer = writer.trigger(availableNow=True)
                if kind in ("jsonl", "parquet"):
                    fmt = "json" if kind == "jsonl" else "parquet"
                    q_handle = writer.format(fmt).start(cfg["path"].format(ns=ns))
                elif kind == "memory":
                    q_handle = (
                        writer.format("memory")
                        .queryName(cfg.get("view", "out_{ns}").format(ns=ns))
                        .start()
                    )
                elif kind == "console":
                    q_handle = writer.format("console").start()
                else:
                    raise ValueError(f"sink kind {kind!r} has no streaming writer")
                queries.append((f"{ns} -> {kind}[{i}]", q_handle))
        if not available_now:
            return {"event": "boot", "queries": dict(queries)}
        for name, q_handle in queries:
            q_handle.awaitTermination()
            metrics[name] = sum(
                int(p["numInputRows"]) for p in q_handle.recentProgress
            )
        return {"event": "exit", "pipeline": self.name, "rows": metrics}

    def run(self, spark: SparkSession) -> dict:
        """Execute every (namespace x sink) edge; returns the metrics
        event the reference would emit on its events channel."""
        if self._source is None or not self._sinks:
            raise ValueError("pipeline needs a source and at least one sink")
        frames = self._load_source(spark)
        metrics: Dict[str, int] = {}
        for ns, env in frames.items():
            for i, edge in enumerate(self._sinks):
                routed = self._apply_edge(env, ns, edge)
                if routed is None:
                    continue
                rows = self._write(routed, ns, edge, spark)
                metrics[f"{ns} -> {edge.kind}[{i}]"] = rows
        return {"event": "exit", "pipeline": self.name, "rows": metrics}
