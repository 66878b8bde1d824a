"""Geometry parity: MySQL-stored WKB -> WKT strings.

The reference hex-encodes the raw MySQL geometry column, strips the
4-byte SRID prefix, WKB-decodes, and emits a WKT string
(adaptor/mysql/reader.go:225-237); the writer re-wraps WKT values in
``ST_GeomFromText(?)`` (adaptor/mysql/writer.go:66-96, 197-202).

Spark-first disposition:

- Reading via JDBC, prefer pushing ``ST_AsText(col)`` into the source
  query — the server does the decode, nothing reaches Python. This
  module exists for the cases where that is impossible: raw WKB blobs
  already landed in parquet/object storage.
- The decode itself is bit-twiddling over binary — exactly the "built-in
  operators genuinely can't express it" case — so it is a *vectorized*
  Arrow-batched pandas UDF, one Python hop per batch, not per row.
- WKT format matches the reference's marshaller conventions: uppercase
  type, a space before the parens, ", " between points
  ("POINT (15 15)", "LINESTRING (0 0, 1 1, 2 2)").

Supported: Point, LineString, Polygon, MultiPoint, MultiLineString,
MultiPolygon, GeometryCollection — the 7 types in the reference's test
schema (adaptor/mysql/adaptor_test.go:141-151). Malformed input yields
NULL (the reference logs-and-continues; a poison geometry must never
fail a 100TB scan).
"""

# NOTE: no `from __future__ import annotations` here — it stringifies
# the pandas_udf type hints, which PySpark's signature inference rejects.
from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


def _make_parser() -> Callable[[str, bool], Optional[str]]:
    """Build the pure WKB-hex -> WKT parser as a nested function so
    cloudpickle serializes it BY VALUE into UDF closures (executors may
    not have this repo on PYTHONPATH)."""
    import struct

    TYPES = {
        1: "POINT",
        2: "LINESTRING",
        3: "POLYGON",
        4: "MULTIPOINT",
        5: "MULTILINESTRING",
        6: "MULTIPOLYGON",
        7: "GEOMETRYCOLLECTION",
    }

    def fmt(v: float) -> str:
        s = repr(v)
        return s[:-2] if s.endswith(".0") else s

    def parse(buf: bytes, pos: int):
        # returns (wkt, new_pos)
        bo = "<" if buf[pos] == 1 else ">"
        (gtype,) = struct.unpack_from(bo + "I", buf, pos + 1)
        pos += 5
        name = TYPES[gtype & 0xFF]

        def point():
            nonlocal pos
            x, y = struct.unpack_from(bo + "dd", buf, pos)
            pos += 16
            return f"{fmt(x)} {fmt(y)}"

        def ring():
            nonlocal pos
            (n,) = struct.unpack_from(bo + "I", buf, pos)
            pos += 4
            return "(" + ", ".join(point() for _ in range(n)) + ")"

        if name == "POINT":
            return f"POINT ({point()})", pos
        if name == "LINESTRING":
            (n,) = struct.unpack_from(bo + "I", buf, pos)
            pos += 4
            return "LINESTRING (" + ", ".join(point() for _ in range(n)) + ")", pos
        if name == "POLYGON":
            (n,) = struct.unpack_from(bo + "I", buf, pos)
            pos += 4
            return "POLYGON (" + ", ".join(ring() for _ in range(n)) + ")", pos
        # multi/collection types: n child geometries, each a full WKB
        (n,) = struct.unpack_from(bo + "I", buf, pos)
        pos += 4
        parts = []
        for _ in range(n):
            child, pos = parse(buf, pos)
            if name == "MULTIPOINT":
                parts.append(child[len("POINT (") : -1])
            elif name == "MULTILINESTRING":
                parts.append(child[len("LINESTRING ") :])
            elif name == "MULTIPOLYGON":
                parts.append(child[len("POLYGON ") :])
            else:
                parts.append(child)
        return f"{name} (" + ", ".join(parts) + ")", pos

    def wkb_hex_to_wkt(hex_str, srid_prefix: bool = True):
        if hex_str is None:
            return None
        try:
            s = hex_str[8:] if srid_prefix else hex_str
            wkt, _ = parse(bytes.fromhex(s), 0)
            return wkt
        except Exception:
            return None  # poison geometry: null, never a task failure

    return wkb_hex_to_wkt


#: driver-side pure parser (unit tests, small batches)
parse_wkb_hex = _make_parser()


def wkb_to_wkt(col: str, srid_prefix: bool = True) -> Column:
    """Column form: WKB-hex string -> WKT string, Arrow-vectorized."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    local_parser = _make_parser()  # fresh nested fn: pickled by value

    @pandas_udf(StringType())
    def _decode(s: pd.Series) -> pd.Series:
        return s.map(lambda v: local_parser(v, srid_prefix))

    return _decode(F.col(col))
