"""Namespace-regex -> table-list expansion.

The reference prunes whole tables/collections source-side by matching
the pipeline's namespace regex against the catalog listing before
reading anything (adaptor/mongodb/reader.go:95-113,
adaptor/postgres/reader.go:61-88). That is the one pushdown it
implements that Spark does not do automatically for multi-table flows,
so it is reproduced here as a plain-Python catalog step: expand the
regex against an explicit table list (file dir, JDBC catalog, Spark
catalog) *before* constructing any DataFrame — unmatched tables are
never scanned.
"""

from __future__ import annotations

import os
import re
from typing import List, Sequence


_SYSTEM_PREFIXES = ("system.",)  # mongo reader skips system.* (:95-113)


def expand_namespaces(candidates: Sequence[str], pattern: str) -> List[str]:
    """Partial-match regex filter over candidate namespaces, skipping
    system namespaces — pre-scan partition pruning at table granularity."""
    rx = re.compile(pattern)
    return [
        ns
        for ns in candidates
        if not ns.startswith(_SYSTEM_PREFIXES) and rx.search(ns)
    ]


def list_dir_namespaces(sf_dir: str) -> List[str]:
    """Candidate namespaces of a file directory: one per ``.parquet``
    entry, the only format ``files.read_table`` reads."""
    out = []
    for entry in sorted(os.listdir(sf_dir)):
        base, ext = os.path.splitext(entry)
        if ext == ".parquet":
            out.append(base)
    return out

