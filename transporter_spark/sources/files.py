"""File sources: parquet / JSON-lines / CSV.

Parity: the reference file adaptor JSON-decodes one file line by line
(adaptor/file/reader.go:25-71). Spark-side a file source is a distributed
scan with schema inference or an explicit schema, and — unlike the
reference — filters/projections push down into the scan.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

#: the footer key under which Spark's parquet writer stores the
#: written rows' StructType as JSON
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

#: the driver's synthetic star schema (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def parquet_footer(path: str):
    """The footer (``pyarrow.parquet.FileMetaData``) of a parquet file,
    or of a directory's first part file in name order, read on the
    driver: no Spark job, no data read. None when there is no such
    file (the Spark read that follows raises its own error)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        path = os.path.join(path, parts[0]) if parts else ""
    return pq.read_metadata(path) if os.path.isfile(path) else None


def spark_schema(path: str) -> Optional[StructType]:
    """The schema a Spark read of ``path`` yields, from the StructType
    Spark writes into every parquet footer it writes
    (``parquet_footer``), with every field nullable as file-source
    reads make it. None when the footer lacks Spark's key (a file not
    written by Spark) or there is no part file."""
    footer = parquet_footer(path)
    raw = (footer.metadata or {}).get(SPARK_ROW_METADATA) if footer else None
    return None if raw is None else _nullable(StructType.fromJson(json.loads(raw)))


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable
    (Spark's ``asNullable``)."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType))
    return t


def _nanos_ts_columns(path: str):
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos
    timestamp type, so these are read as long (nanosAsLong) and converted
    to microsecond timestamps. Reads only the footer
    (``parquet_footer``); handles both single-file and directory-style
    parquet."""
    footer = parquet_footer(path)
    if footer is None:
        return []
    # Check the PARQUET (not arrow) schema: Spark-written INT96
    # timestamps also surface as timestamp[ns] in arrow, but Spark
    # reads INT96 natively — nanosAsLong only applies to INT64
    # TIMESTAMP(NANOS) columns, so only those may be converted.
    schema = footer.schema
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        lt = str(col.logical_type)
        if (
            col.physical_type == "INT64"
            and "Timestamp" in lt
            and "nanoseconds" in lt
        ):
            out.append(col.name)
    return out


def read_files(
    spark: SparkSession,
    fmt: str,
    path: str,
    schema: Optional[str | StructType] = None,
    stream: bool = False,
) -> DataFrame:
    """THE file reader: a batch read, or with ``stream`` a readStream,
    of one file or a directory of files in ``fmt`` (``parquet``,
    ``json``, any Spark file format).

    A stream takes ``schema``, else the schema of a batch read of
    ``path``. File-stream sources watch directories, so a file path
    streams from its parent directory filtered to its name. Parquet
    TIMESTAMP(NANOS) columns (found from the footer on the driver, no
    Spark job) are read as long under
    ``spark.sql.legacy.parquet.nanosAsLong`` — set for the session —
    and truncated to microsecond timestamps (matches DuckDB's ns->us
    truncation) in both modes. Integer ``div``, not ``/``: epoch-nanos
    exceed 2^53 and would lose precision as double."""
    nanos_cols = _nanos_ts_columns(path) if fmt == "parquet" else []
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if stream and schema is None:
        schema = spark.read.format(fmt).load(path).schema
    reader = (spark.readStream if stream else spark.read).format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if stream and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.load(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (``<sf_dir>/<name>.parquet``). Plain
    parquet scan — Catalyst handles predicate pushdown / column pruning
    / partition sizing (spark.sql.files.maxPartitionBytes) from here."""
    return read_files(spark, "parquet", os.path.join(sf_dir, f"{name}.parquet"))


def write_bucketed(
    df: DataFrame,
    table: str,
    key,
    buckets: int = 32,
    sorted_by: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    The co-located-join primitive for repeated big-big joins: two tables
    bucketed on their join keys with the same bucket count join with
    ZERO shuffle exchanges (SortMergeJoin reads bucket i against bucket
    i directly — pinned in tests/test_plans.py). At 100TB this converts
    every recurring fact-fact join from a full-network shuffle into a
    local merge; the one-time bucketing write is the amortized cost.
    Uses the session catalog (`saveAsTable`) — set
    spark.sql.warehouse.dir appropriately on a cluster.

    key may be a single column name or a list (composite bucket keys —
    e.g. the LSH band index buckets on (band, bsig)).
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.bucketBy(buckets, *keys)
    if sorted_by is not None:
        writer = writer.sortBy(sorted_by)
    writer.mode(mode).format("parquet").saveAsTable(table)
