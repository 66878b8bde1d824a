"""The engine's graded query inventory.

One entry per operator/capability from SURVEY.md §2 (plus the
training-data-pipeline extensions). Each entry pairs

- a Spark implementation ``fn(spark, sf_dir) -> DataFrame`` built on the
  operator library, and
- an equivalent ANSI-SQL oracle string for DuckDB (or ``None`` for ops
  that are not SQL-expressible — those get a rows-only check).

Column names are aliased identically on both sides: the driver sorts
columns by name and hashes values, so names AND values must match.

Scale notes are attached per query: the sf0.01 correctness tables are
tiny, but every plan here is written for the 100TB shape (broadcast the
dims, aggregate before join where possible, never collect to driver).
"""

from __future__ import annotations

import os
import re
from typing import Callable, Dict, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transporter_spark.envelope import to_envelope
from transporter_spark.registry import build_operator
from transporter_spark.sources.files import read_table


class Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


QUERIES: Dict[str, Query] = {}


def q(name: str, oracle: Optional[str] = None):
    def deco(fn):
        QUERIES[name] = Query(fn, oracle)
        return fn

    return deco


def _events_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style envelope over the events table: op derived per row
    (insert/update/delete), event time as ts, namespace constant."""
    ev = read_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    return to_envelope(
        ev.withColumn("_op", op),
        ns="app.events",
        op_col="_op",
        ts_col="ts",
        payload_cols=["event_id", "user_id", "event_type", "value", "props"],
    )


_EVENTS_OP_SQL = (
    "CASE WHEN event_type = 'signup' THEN 'insert' "
    "WHEN event_type = 'error' THEN 'delete' ELSE 'update' END"
)
