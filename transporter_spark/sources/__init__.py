"""Sources (scan operators) and the table catalog.

The reference's adaptor readers (SURVEY.md §2.1) do listing + full scan +
per-value casify, row at a time. Spark-side, batch scans are
``spark.read`` with schema from file/JDBC metadata (casify comes free),
and tail/CDC scans are Structured Streaming sources (``streaming``).
"""

from transporter_spark.sources.files import read_table, TABLES
from transporter_spark.sources.catalog import expand_namespaces

__all__ = ["read_table", "TABLES", "expand_namespaces"]
