"""Streaming file sources, for ``envelope.to_envelope`` to wrap.

The reference's tail readers (oplog/logical-decoding/binlog/changefeed,
SURVEY.md §2.1) each produce a channel of (op, ts, ns, doc). Spark-side,
any replayable stream presents the same four columns once wrapped; here
we provide the file-based source (its contract — schema'd, resumable via
checkpoint — is the same one a Kafka/Debezium feed satisfies).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transporter_spark.sources.files import read_files, read_table


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over one parquet table (``<sf_dir>/<name>.parquet``):
    ``read_table``'s stream twin, through the same reader."""
    return read_files(
        spark, "parquet", os.path.join(sf_dir, f"{name}.parquet"), stream=True
    )


def chunked_table_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    num_chunks: int = 4,
    order_col: str = "doc_id",
    out_dir: Optional[str] = None,
) -> DataFrame:
    """A genuinely MULTI-EPOCH availableNow stream over one testdata
    table: split it into ``num_chunks`` single-file parquet chunks by
    ascending ``order_col`` ranges (`_chunked_stream`). This is the
    drain harness that lets the graded stream queries prove
    MULTI-epoch == batch."""
    return _chunked_stream(
        spark, read_table(spark, sf_dir, name), num_chunks, order_col, out_dir
    )


def _chunked_stream(
    spark: SparkSession,
    df: DataFrame,
    num_chunks: int,
    order_col: str = "doc_id",
    out_dir: Optional[str] = None,
) -> DataFrame:
    """Split ``df`` into ``num_chunks`` single-file parquet chunks by
    ascending ``order_col`` ranges (exact percentile boundaries), with
    strictly increasing mtimes so the file source delivers them in
    order, and read the chunk dir with maxFilesPerTrigger=1 — one
    epoch per chunk. Also the harness for graded queries whose corpus
    is a deterministic AUGMENTATION of a testdata table (testdata is
    read-only, so augmented docs are spliced at the query layer)."""
    qs = [i / num_chunks for i in range(1, num_chunks)]
    bounds = df.select(
        F.expr(
            f"percentile({order_col}, array({', '.join(str(q) for q in qs)}))"
        ).alias("b")
    ).collect()[0].b
    chunk_dir = out_dir or tempfile.mkdtemp(prefix="ts_chunks_")
    os.makedirs(chunk_dir, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="ts_chunk_stage_")
    lows = [None] + list(bounds)
    highs = list(bounds) + [None]
    now = time.time()
    for i, (lo, hi) in enumerate(zip(lows, highs)):
        part = df
        if lo is not None:
            part = part.where(F.col(order_col) > lo)
        if hi is not None:
            part = part.where(F.col(order_col) <= hi)
        stage_i = os.path.join(stage, f"c{i}")
        part.coalesce(1).write.mode("overwrite").parquet(stage_i)
        src = [
            f
            for f in os.listdir(stage_i)
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        assert len(src) == 1, f"expected one part file, got {src}"
        dst = os.path.join(chunk_dir, f"chunk_{i:03d}.parquet")
        shutil.move(os.path.join(stage_i, src[0]), dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))
    shutil.rmtree(stage, ignore_errors=True)
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )


def chunked_or_single_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    num_chunks: int,
    order_col: str = "doc_id",
) -> DataFrame:
    """THE graded drains' source selector: ``order_col``-ordered
    single-file chunks — one applied epoch each — when num_chunks > 1,
    else the plain one-file availableNow stream."""
    if num_chunks > 1:
        return chunked_table_stream(spark, sf_dir, name, num_chunks, order_col)
    return stream_table(spark, sf_dir, name)


def assert_epochs_applied(applied: int, min_epochs: int) -> None:
    """THE min-epochs raise shared by every graded drain. applied == 0
    is its own diagnosis — no chunk harness is at fault when the sink
    simply never applied a non-empty epoch (r12 review: the chunked
    wording was misleading on an empty single-file drain)."""
    if applied >= min_epochs:
        return
    if applied == 0:
        raise RuntimeError(
            "drain applied no non-empty epoch — the source delivered "
            "nothing (empty table, or every row gated/redelivered)"
        )
    raise RuntimeError(
        f"drain applied {applied} epochs; the graded multi-epoch "
        f"claim needs >= {min_epochs} — the chunked harness is no "
        "longer delivering one epoch per chunk"
    )
