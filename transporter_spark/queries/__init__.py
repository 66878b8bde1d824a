"""The graded query registry: one `@q` entry per SURVEY.md §2 operator
/ capability, each with a DuckDB oracle unless non-SQL-expressible.

A package since r12 (VERDICT r11 item 5): the former 9.2k-line
queries.py is split into family modules whose section text moved
VERBATIM (byte-identical function bodies and oracle strings — pinned
by tests/test_oracle_builders.py's identity checks and the split-time
registry diff); importing them here in the original section order
preserves QUERIES registration order exactly. Every top-level name of
every family module is re-exported below, so
`from transporter_spark.queries import <anything>` keeps working for
tests and __spark_entry__.py."""

from __future__ import annotations

from transporter_spark.queries import _base
from transporter_spark.queries import transforms
from transporter_spark.queries import relational
from transporter_spark.queries import llm_pipeline
from transporter_spark.queries import streaming_core
from transporter_spark.queries import relational_udf
from transporter_spark.queries import subqueries
from transporter_spark.queries import extended_json
from transporter_spark.queries import temporal
from transporter_spark.queries import quality_gates
from transporter_spark.queries import tpch_breadth
from transporter_spark.queries import pipeline_round2
from transporter_spark.queries import mixing_sampling
from transporter_spark.queries import sketches
from transporter_spark.queries import wire_sinks
from transporter_spark.queries import wire_sources

_FAMILY_MODULES = (
    _base, transforms, relational, llm_pipeline, streaming_core,
    relational_udf, subqueries, extended_json, temporal, quality_gates,
    tpch_breadth, pipeline_round2, mixing_sampling, sketches, wire_sinks,
    wire_sources,
)

# Hoist every family-module top-level name (underscore included) into
# the package namespace: the monolith had ONE globals dict, and its
# consumers import private helpers (oracle builders, corpus CTEs,
# graded constants) directly from transporter_spark.queries.
for _m in _FAMILY_MODULES:
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            globals()[_k] = _v
del _m, _k, _v
