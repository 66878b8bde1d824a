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

One spec runs in both modes. ``SOURCES`` maps each source kind to its
(batch reader, stream reader) pair and ``SINKS`` each sink kind to the
modes it runs in; ``run`` and ``run_stream`` go through the same two
tables and the same ``write_edge``, and a kind used in a mode it lacks
raises before any query starts. CDC tail sync is a spec like a copy:

    (Pipeline("tail")
        .source("jsonl_tail", path="/feed.jsonl", ns="cdc",
                schema="id BIGINT, v BIGINT")
        .save("cdc", path="/state/{ns}", keys=["id"], compact_every=8))
        .run_stream(spark, "/ckpt")
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from transporter_spark.envelope import from_envelope, to_envelope
from transporter_spark.registry import build_operator
from transporter_spark.sources.catalog import expand_namespaces, list_dir_namespaces
from transporter_spark.sources.files import read_files, read_table

Reader = Callable[[SparkSession, dict], Dict[str, DataFrame]]


def _env(ns: str, df: DataFrame, **kw) -> Dict[str, DataFrame]:
    return {ns: to_envelope(df, ns=ns, **kw)}


def _dir_names(cfg: dict) -> List[str]:
    listed = list_dir_namespaces(cfg["path"])
    pattern = cfg.get("namespaces", ".*")
    names = expand_namespaces(listed, pattern)
    if not names:
        raise ValueError(
            f"dir source {cfg['path']!r}: namespaces pattern {pattern!r} "
            f"matches none of {listed}"
        )
    return names


def _dir(stream: bool) -> Reader:
    """The reader of every namespace a ``dir`` spec's pattern selects."""

    def read(spark: SparkSession, cfg: dict) -> Dict[str, DataFrame]:
        from transporter_spark.streaming.sources import stream_table

        table = stream_table if stream else read_table
        return {ns: to_envelope(table(spark, cfg["path"], ns), ns=ns) for ns in _dir_names(cfg)}

    return read


def _file(fmt: str, stream: bool) -> Reader:
    """The reader of a ``parquet`` / ``jsonl`` spec: one file or a
    directory of files, with the spec's ``schema`` if it has one."""

    def read(spark: SparkSession, cfg: dict) -> Dict[str, DataFrame]:
        df = read_files(spark, fmt, cfg["path"], cfg.get("schema"), stream)
        return _env(cfg.get("ns", cfg["path"]), df)

    return read


def _read_jdbc(spark: SparkSession, cfg: dict) -> Dict[str, DataFrame]:
    from transporter_spark.sources import jdbc as jdbc_mod  # gated: driver jar + DB

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
    return _env(cfg.get("ns", cfg["table"]), df)


def _stream_jsonl_tail(spark: SparkSession, cfg: dict) -> Dict[str, DataFrame]:
    """A growing JSON-lines change feed (sources/datasource.py): each
    line's ``data`` is parsed with the spec's ``schema`` and its ``op``
    and ``ts`` become the envelope's."""
    from transporter_spark.sources.datasource import JsonlTailDataSource

    spark.dataSource.register(JsonlTailDataSource)
    ns = cfg.get("ns", cfg["path"])
    raw = (spark.readStream.format("jsonl_tail")
           .option("path", cfg["path"]).option("ns", ns).load())
    parsed = raw.withColumn("d", F.from_json("json", cfg["schema"])).select("op", "ts", "d.*")
    return _env(ns, parsed, ts_col="ts", op_col="op")


# kind -> (batch reader, stream reader); None = the kind lacks that mode
SOURCES: Dict[str, Tuple[Optional[Reader], Optional[Reader]]] = {
    "dir": (_dir(False), _dir(True)),
    "parquet": (_file("parquet", False), _file("parquet", True)),
    "jsonl": (_file("json", False), _file("json", True)),
    "dataframe": (lambda spark, cfg: _env(cfg.get("ns", "df"), cfg["df"]), None),
    "jdbc": (_read_jdbc, None),
    "jsonl_tail": (None, _stream_jsonl_tail),
}

# kind -> (runs in batch, runs in stream). memory/jdbc are batch only: an
# epoch frame does not outlive its batch, and a jdbc append under replay
# duplicates rows (the upsert path is sources.jdbc.jdbc_cdc_sink)
SINKS: Dict[str, Tuple[bool, bool]] = {
    "parquet": (True, True), "jsonl": (True, True), "console": (True, True),
    "memory": (True, False), "jdbc": (True, False), "cdc": (False, True),
}


@dataclass
class _Edge:
    kind: str
    config: dict
    ns_pattern: Optional[str]
    transforms: List[Tuple[str, Optional[str], dict]]  # (op, ns_pattern, cfg)


def _publish_epoch(writer, path: str, epoch_id: int) -> None:
    """Exactly-once file publish of one streaming epoch: write into a
    hidden staging dir under ``path``, delete the files an earlier
    attempt of this epoch published, move the data files in under
    ``e<epoch>-`` names, drop the staging dir. A replayed epoch (same
    id, same rows) rewrites the same files and adds no rows. Local
    filesystem paths, like the streaming state stores."""
    stage = os.path.join(path, f"_stage-e{epoch_id}")
    writer.mode("overwrite").save(stage)
    mine = f"e{epoch_id}-"
    for name in os.listdir(path):
        if name.startswith(mine):
            os.remove(os.path.join(path, name))
    for name in os.listdir(stage):
        if not name.startswith(("_", ".")):  # _SUCCESS, .crc
            os.replace(os.path.join(stage, name), os.path.join(path, mine + name))
    shutil.rmtree(stage)


def write_edge(
    spark: SparkSession,
    df: DataFrame,
    ns: str,
    edge: _Edge,
    epoch_id: Optional[int] = None,
) -> None:
    """Write one edge's envelope frame to its sink: the whole frame in a
    batch run (``epoch_id`` None), one micro-batch under foreachBatch in
    a stream run. ``cdc`` consumes the envelope itself; every other kind
    writes the unwrapped payload."""
    kind, cfg = edge.kind, edge.config
    if kind == "cdc":
        from transporter_spark.streaming.cdc import cdc_upsert_sink

        sink = cdc_upsert_sink(spark, cfg["path"].format(ns=ns), cfg["keys"],
                               cfg.get("order_cols"), cfg.get("compact_every"))
        sink(df, epoch_id)
        return
    out = from_envelope(df) if "data" in df.columns else df
    if kind in ("parquet", "jsonl"):
        writer = out.write.format("json" if kind == "jsonl" else "parquet")
        path = cfg["path"].format(ns=ns)
        if epoch_id is None:
            writer.mode(cfg.get("mode", "overwrite")).save(path)
        else:
            _publish_epoch(writer, path, epoch_id)
    elif kind == "console":
        out.show(cfg.get("rows", 20), truncate=False)
    elif kind == "memory":
        out.createOrReplaceTempView(cfg.get("view", "out_{ns}").format(ns=ns))
        out.count()  # the view is lazy: run it once so the rows are counted
    elif kind == "jdbc":  # gated: append-mode write
        out.write.mode(cfg.get("mode", "append")).jdbc(
            cfg["url"], cfg.get("table", ns), properties=cfg.get("properties", {})
        )


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

    def _edges(
        self, spark: SparkSession, stream: bool
    ) -> Iterator[Tuple[str, int, str, _Edge, DataFrame]]:
        """(name, sink index, namespace, edge, routed frame) per
        (namespace x sink) edge, after checking every kind runs in this
        mode."""
        if self._source is None or not self._sinks:
            raise ValueError("pipeline needs a source and at least one sink")
        mode = ("batch", "stream")[stream]
        kinds = [("source", SOURCES, self._source[0])]
        for role, table, kind in kinds + [("sink", SINKS, e.kind) for e in self._sinks]:
            if not table.get(kind, (False, False))[stream]:
                known = ", ".join(k for k, modes in table.items() if modes[stream])
                raise ValueError(f"no {mode} {role} kind {kind!r}; {mode} {role}s: {known}")
        kind, cfg = self._source
        for ns, env in SOURCES[kind][stream](spark, cfg).items():
            for i, edge in enumerate(self._sinks):
                if edge.ns_pattern and not re.search(edge.ns_pattern, ns):
                    continue  # table-level prune: never even plan this edge
                df = env
                for op, op_ns, op_cfg in edge.transforms:
                    if not op_ns or re.search(op_ns, ns):
                        df = build_operator(op, **op_cfg)(df)
                yield f"{ns} -> {edge.kind}[{i}]", i, ns, edge, df

    def run_stream(
        self,
        spark: SparkSession,
        checkpoint_root: str,
        available_now: bool = True,
    ) -> dict:
        """Streaming execution — the reference's actual operating mode
        (a resumable sync daemon, pipeline/node.go:439-509).

        Every (namespace x sink) edge becomes its own foreachBatch query
        over ``write_edge`` with its own checkpoint directory under
        ``checkpoint_root`` — the exact analog of the reference's
        PER-SINK consumer offsets (offset/logmanager.go:14-131): each
        sink tracks its own resume point, a lagging sink re-reads only
        its own backlog, and a re-run after new source data moves only
        the delta (proven by tests/test_pipeline.py resume test). File
        edges publish each epoch under epoch-named files
        (``_publish_epoch``), so a replayed epoch adds no rows.

        available_now=True = the reference's copy-then-exit mode; False
        leaves continuous micro-batch queries running (sync mode) and
        returns the handles. Row counts are the queries' input rows.
        """
        queries = []
        for name, i, ns, edge, routed in self._edges(spark, stream=True):
            safe = re.sub(r"[^A-Za-z0-9_]", "_", f"{ns}_{edge.kind}_{i}")
            writer = routed.writeStream.foreachBatch(
                lambda b, e, ns=ns, edge=edge: write_edge(spark, b, ns, edge, e)
            ).option("checkpointLocation", f"{checkpoint_root}/{safe}")
            if available_now:
                writer = writer.trigger(availableNow=True)
            queries.append((name, writer.start()))
        if not available_now:
            return {"event": "boot", "pipeline": self.name, "queries": dict(queries)}
        metrics: Dict[str, int] = {}
        for name, q_handle in queries:
            q_handle.awaitTermination()
            metrics[name] = sum(
                int(p["numInputRows"]) for p in q_handle.recentProgress
            )
        return {"event": "exit", "pipeline": self.name, "rows": metrics}

    def run(self, spark: SparkSession) -> dict:
        """Execute every (namespace x sink) edge; returns the metrics
        event the reference would emit on its events channel (rows
        written per edge, from an Observation on the edge's frame)."""
        metrics: Dict[str, int] = {}
        for name, _, ns, edge, routed in self._edges(spark, stream=False):
            obs = Observation()
            write_edge(spark, routed.observe(obs, F.count(F.lit(1)).alias("rows")), ns, edge)
            metrics[name] = obs.get["rows"] if obs.get else 0
        return {"event": "exit", "pipeline": self.name, "rows": metrics}
